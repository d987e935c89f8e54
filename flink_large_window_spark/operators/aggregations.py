"""Aggregation operators (SURVEY.md §2.4).

Flink analogue: ``AggregateFunction`` / Table API GROUP BY (reference
snapshot empty — SURVEY.md §0; capability anchors are the public Flink
API classes cited per-row in SURVEY.md §2.4).

Scale notes (100 TB): every groupBy here compiles to Spark's two-phase
HashAggregate (partial map-side combine → final), which is exactly
Flink's incremental-AggregateFunction pattern — state per group, not
per row. Grouping keys are low-cardinality (returnflag × linestatus,
orderstatus, …) so the shuffle after partial agg carries only
#groups × #partitions rows. No collect(), no Python in the hot path.

Float parity: aggregate doubles are rounded before output — 2 decimals
for money-magnitude sums (~1e9 at scale: decimal grid >> ulp), 4–6 for
small magnitudes — so Spark-vs-DuckDB summation-order ulp noise cannot
flip the driver's value hash. Identical ROUND appears in each oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import prep, table, table_sql_ref

# Cutoff used by the flagship Q1-shape query (TPC-H uses 1998-12-01 - 90d).
Q1_CUTOFF = "1998-09-02"


@query(
    "agg_hash_grouped",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 4)                                    AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      ROUND(AVG(l_quantity), 6)                                    AS avg_qty,
      ROUND(AVG(l_extendedprice), 6)                               AS avg_price,
      ROUND(AVG(l_discount), 6)                                    AS avg_disc,
      COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship query (SURVEY §7 M1).

    Filter → grouped 8-aggregate rollup over the largest table. Catalyst
    plans this as parquet scan (shipdate predicate pushed down, 7-column
    read schema) → partial HashAggregate → 2-key shuffle → final
    HashAggregate, all inside whole-stage codegen.

    Single ``spark.sql`` statement since optimization r16 (SCALING.md
    §12 build-cost remedy): the chained build cost 54–95 ms of driver
    time per call — ~20% of fixture-scale wall — for the identical
    plan. The expressions match up to operand order: the chained build
    planned ``(l_tax + 1.0)``, the SQL text plans ``(1.0 + l_tax)``
    (plans/r16/agg_hash_grouped_{before,after}.txt). IEEE addition is
    commutative, so each addend and the result are identical; rows
    and dtypes verified equal, hash-equal at all three SFs. Interleaved
    A/B: 0.276/0.242 → 0.219/0.201 s medians, build 57 → 17 ms.
    """
    prep(spark)
    li = table_sql_ref(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT
          l_returnflag,
          l_linestatus,
          ROUND(SUM(l_quantity), 4)                              AS sum_qty,
          ROUND(SUM(l_extendedprice), 2)                         AS sum_base_price,
          ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
          ROUND(SUM((l_extendedprice * (1 - l_discount))
                    * (1 + l_tax)), 2)                           AS sum_charge,
          ROUND(AVG(l_quantity), 6)                              AS avg_qty,
          ROUND(AVG(l_extendedprice), 6)                         AS avg_price,
          ROUND(AVG(l_discount), 6)                              AS avg_disc,
          COUNT(1)                                               AS count_order
        FROM {li}
        WHERE l_shipdate <= CAST('{Q1_CUTOFF}' AS TIMESTAMP)
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "agg_hash_global",
    oracle="""
    SELECT
      ROUND(SUM(l_extendedprice), 2) AS sum_price,
      ROUND(AVG(l_quantity), 6)      AS avg_qty,
      ROUND(MIN(l_extendedprice), 2) AS min_price,
      ROUND(MAX(l_extendedprice), 2) AS max_price,
      COUNT(*)                       AS n_rows
    FROM lineitem
    """,
)
def agg_hash_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (keyless) aggregate — single-group two-phase agg."""
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — expands to a two-level aggregate in Spark.

    At 100 TB prefer agg_approx_count_distinct: exact distinct shuffles
    every (event_type, user_id) pair; the HLL sketch shuffles one
    fixed-size sketch per group per partition.
    """
    prep(spark)
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query("agg_approx_count_distinct")  # rows-only: approximation ≠ hash-match
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct orderkeys (rsd 1%) — the 100 TB-safe distinct."""
    prep(spark)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT n_name, c_mktsegment, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (nation), (mktsegment), and grand total in one pass.

    Uses the DataFrame groupingSets API (Spark 4) rather than spark.sql
    over temp views — registering views named like the fixture tables
    could clobber same-named views the calling session owns.
    """
    prep(spark)
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return joined.groupingSets(
        [["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment"
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup region → nation → grand total."""
    prep(spark)
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 6)    AS var_qty,
           ROUND(AVG(l_quantity), 6)         AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group."""
    prep(spark)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS median_price,
           ROUND(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: linear interpolation).

    At 100 TB this becomes percentile_approx (t-digest/KLL-style sketch);
    exact percentile requires a per-group sort.
    """
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        )
    )


@query(
    "agg_collect",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect per group, emitted as a joined string so the
    cross-engine value hash is representation-stable."""
    prep(spark)
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
    )


@query(
    "agg_partial_final",
    oracle="""
    SELECT l_returnflag, ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase aggregation made observable.

    Spark always plans grouped aggregation as partial (map-side
    combine) → shuffle of group states → final merge — the batch
    equivalent of Flink's incremental AggregateFunction. This query
    asserts the physical plan really contains the partial phase, so a
    regression to a single-phase plan (e.g. an accidental
    sort-aggregate without partial push-down) fails loudly.
    """
    prep(spark)
    df = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "partial" not in plan.lower():
        raise AssertionError("expected partial+final HashAggregate in plan:\n" + plan)
    return df


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate moments per group (corr, sample covariance) — both
    engines use numerically stable one-pass co-moment updates; rounded
    per the float policy (covar magnitude ~1e4 → 4 decimals)."""
    prep(spark)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
        )
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
           COUNT(*)                                    AS n,
           ROUND(AVG(o_totalprice), 2)                 AS avg_price
    FROM orders GROUP BY 1
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of o_totalprice (bin width 50 000).

    Fixed bounds instead of data-derived min/max keep this a single
    pass with map-side partial aggregation — the sketch-free histogram
    shape that scales to 100 TB (a data-derived-range histogram needs a
    min/max pre-pass or a t-digest sketch; at fixed bounds the whole
    thing is one partial+final hash aggregate on ≤ a few dozen bins).
    """
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@query(
    "agg_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_type, n FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC
             ) AS r
      FROM events GROUP BY user_id, event_type
    ) WHERE r = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event_type with an explicit deterministic
    tie-break (count desc, then event_type asc).

    Built from count + row_number rather than the engines' `mode()`
    aggregates, whose tie-breaking is implementation-defined — the
    explicit formulation is the only one two engines can hash-match on.
    The inner aggregate collapses events to ≤ users×5 rows before the
    window, so the row_number never sees raw-event volume.
    """
    prep(spark)
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@query("agg_approx_percentile")  # rows-only: sketch output ≠ hash-match
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable sketch) of o_totalprice
    per orderstatus — the unbounded-scale twin of agg_percentile.

    Exact percentile needs a full sort or collect per group; the sketch
    is one pass, mergeable map-side, O(1/accuracy) memory — at 100 TB
    this is the only viable formulation (SURVEY §7's
    approx-not-exact-in-unbounded-paths rule). Accuracy 1/10000 keeps
    the sketch within ~0.01% of exact on the fixtures; correctness of
    the exact path is already gated by agg_percentile's SQL oracle.
    """
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_approx"),
        )
    )


@query(
    "agg_bool",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           COUNT(*)                        AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (universal / existential per group) — the
    predicate-rollup shape used for per-partition data-quality gates
    ("did every row in this day pass validation?")."""
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS BIGINT)  AS g_region,
           CAST(GROUPING(n_name) AS BIGINT)  AS g_nation,
           COUNT(*)                          AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers: distinguishes "NULL because this
    row is a subtotal" from "NULL in the data" — without it a rollup
    over nullable keys is ambiguous. Spark's grouping()/grouping_id()
    map 1:1 to the SQL standard bits DuckDB emits.
    """
    prep(spark)
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("long").alias("g_region"),
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): nations per region as a
    sorted CSV. Spark has no ordered string_agg — the deterministic
    spelling is collect_list → array_sort → concat_ws, which the
    oracle's ORDER BY inside string_agg mirrors exactly. The sort is
    per-group and group sizes are bounded (≤5 here); unbounded groups
    would cap or sketch instead."""
    prep(spark)
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations_csv"
            )
        )
    )


@query(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression aggregates (slope/intercept/R²) of
    price on quantity — one-pass co-moment accumulators in both
    engines (the same mergeable-moments machinery as corr/covar), so
    a 100 TB fit is a single two-phase aggregate, no iteration."""
    prep(spark)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        )
    )


@query(
    "agg_skew_kurtosis_pinned",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*)          AS n,
             AVG(l_discount)   AS mu,
             AVG(l_discount * l_discount) AS ex2,
             AVG(l_discount * l_discount * l_discount) AS ex3,
             AVG(l_discount * l_discount * l_discount * l_discount) AS ex4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((ex3 - 3*mu*ex2 + 2*mu*mu*mu)
                 / POW(ex2 - mu*mu, 1.5), 6) AS skew_pop,
           ROUND((ex4 - 4*mu*ex3 + 6*mu*mu*ex2 - 3*mu*mu*mu*mu)
                 / POW(ex2 - mu*mu, 2) - 3, 6) AS kurt_excess_pop
    FROM m
    """,
)
def agg_skew_kurtosis_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2²−3 per group, computed from raw-moment expansions
    pinned IDENTICALLY in both engines — necessary because the
    built-ins disagree (Spark's skewness/kurtosis are population
    moments, DuckDB's carry sample bias corrections; probed: 0.456 vs
    0.680 on the same 5 values). One pass, mergeable sums, exactly the
    shape a 100 TB moment computation uses. Computed on l_discount
    (0..0.1) so the x⁴ terms stay far from double cancellation."""
    prep(spark)
    d = F.col("l_discount")
    m = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.avg(d).alias("mu"),
            F.avg(d * d).alias("ex2"),
            F.avg(d * d * d).alias("ex3"),
            F.avg(d * d * d * d).alias("ex4"),
        )
    )
    mu, ex2, ex3, ex4 = F.col("mu"), F.col("ex2"), F.col("ex3"), F.col("ex4")
    m2 = ex2 - mu * mu
    m3 = ex3 - 3 * mu * ex2 + 2 * mu * mu * mu
    m4 = ex4 - 4 * mu * ex3 + 6 * mu * mu * ex2 - 3 * mu * mu * mu * mu
    return m.select(
        "l_returnflag",
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skew_pop"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("kurt_excess_pop"),
    )


@query(
    "agg_distinct_multi",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS d,
           COUNT(DISTINCT user_id)    AS n_users,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(*)                   AS n_events
    FROM events GROUP BY date_trunc('day', ts)
    """,
)
def agg_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over different columns in ONE
    aggregate — compiles to Catalyst's Expand operator (one input row
    fans to one row per distinct-group), the standard multi-distinct
    plan. At scale this is one shuffle keyed (day, gid, value) with
    partial aggregation, not one job per distinct column; for
    approximate needs swap in approx_count_distinct and drop the
    Expand entirely (agg_approx_count_distinct shows that path).
    """
    prep(spark)
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("string").alias("d"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "agg_bitwise_flags",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                             WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                             ELSE 16 END AS flag
      FROM events
    )
    SELECT user_id,
           CAST(bit_or(flag) AS BIGINT)            AS type_bitmap,
           CAST(bit_count(bit_or(flag)) AS INTEGER) AS n_types
    FROM coded GROUP BY user_id
    """,
)
def agg_bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type bitmap via BIT_OR aggregation — the
    distributed bitmap-index pattern: set membership over an enum
    domain folds to one integer per key, OR is associative/commutative
    so partial aggregation (map-side combine) applies, and downstream
    predicates like "did click AND purchase" become row-local
    ``bitmap & 5 = 5`` tests with no join or distinct. bit_count
    recovers the distinct-type cardinality for free — COUNT(DISTINCT)
    over any enum-coded domain at a fraction of the shuffle width.
    """
    prep(spark)
    flag = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    return (
        table(spark, sf_dir, "events")
        .select("user_id", flag.alias("flag"))
        .groupBy("user_id")
        .agg(
            F.bit_or("flag").cast("long").alias("type_bitmap"),
        )
        .select(
            "user_id",
            "type_bitmap",
            F.bit_count("type_bitmap").cast("int").alias("n_types"),
        )
    )
