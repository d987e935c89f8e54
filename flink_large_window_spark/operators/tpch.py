"""TPC-H composite query shapes beyond Q1/Q3/Q5/Q10/Q18 (SURVEY.md §2 extras).

The fixtures carry a slimmed TPC-H schema (no partsupp; lineitem has no
commit/receipt dates or shipmode; part has no container/mfgr; customer
has no phone) — so each query keeps its *plan shape* (the thing that
matters for the engine: correlated EXISTS → semi join, scalar subquery
→ broadcast join, OR-of-ANDs pushdown, CASE-conditional aggregates,
outer-join histograms) while mapping predicates onto the columns that
exist. Q2/Q11/Q16/Q20 need partsupp, which the fixtures do not ship —
since round 6 they run against a DERIVED partsupp relation rebuilt
deterministically from the public TPC-H dbgen assignment rule (spec
§4.2.3, adapted to the fixtures' 0-based keys: supplier i∈0..3 of part
p is (p + i·(S div 4 + p div S)) mod S), with an identical CTE on the
oracle side — see ``_partsupp_spark_cte`` below and tests/test_partsupp.py.

Scale notes (100 TB):
- every dim side (part at the brand-filtered grain, supplier, nation,
  customer for q22's anti join) is explicitly ``broadcast()``;
- correlated subqueries are decorrelated by hand into aggregates joined
  on the correlation key — the same rewrite Catalyst performs for SQL
  EXISTS/IN, but made explicit so each shuffle is visible and keyed on
  the fact key it already shares with the main join (AQE reuses the
  exchange, e.g. q21's per-order supplier stats vs the order join);
- q13's outer-join histogram aggregates customer×orders down to one
  row per count bucket before anything leaves the shuffle stage;
- conditional aggregates (q8/q12/q14) are single-pass CASE sums — one
  scan, no self-joins.

Float parity: money sums round to 2 decimals, ratios to 4; top-1/top-k
outputs follow the suite rank-only rule (see q10) and emit keys, not
the float that ranked them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import prep, row_count, table, table_sql_ref


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): count orders per
    priority that have at least one line shipped >60 days after the
    order date (stand-in for the missing commit/receipt columns). The
    correlated EXISTS becomes a left-semi join whose ON clause carries
    the correlated predicate — Spark pushes the date filter to the
    orders scan and the semi join short-circuits per matching key.
    """
    prep(spark)
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = (o["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAY")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-side query —
    every predicate (date range, discount band, quantity cap) must
    reach the parquet reader as a pushed filter and the aggregate is a
    single global sum with map-side partials. At 100 TB this is the
    canonical 'I/O-bound if done right' query: zero shuffle beyond the
    one-row partial merge.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations by year. The nation-pair OR predicate can only be applied
    *after* both nation joins, but each single-nation membership filter
    is pushed into its own broadcast-joined dim, so the fact stream is
    pre-filtered to suppliers/customers of the two nations before the
    pair check. Two broadcast dims + two fact joins on already-shared
    keys.
    """
    prep(spark)
    n1 = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    sup = table(spark, sf_dir, "supplier").join(
        F.broadcast(n1.select(F.col("n_nationkey").alias("s_nationkey"),
                              F.col("n_name").alias("supp_nation"))),
        "s_nationkey",
    )
    cust = table(spark, sf_dir, "customer").join(
        F.broadcast(n1.select(F.col("n_nationkey").alias("c_nationkey"),
                              F.col("n_name").alias("cust_nation"))),
        "c_nationkey",
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = table(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    AMERICA-region revenue for one part type, by year. 8-table star —
    part/supplier/nation/region all broadcast; lineitem⋈orders is the
    only fact-fact shuffle. The share is a single-pass conditional
    aggregate (no self-join): SUM(CASE)/SUM over the same rows.

    Single ``spark.sql`` statement since round 8 (VERDICT r7 item 3):
    the widest remaining chained-DataFrame build (0.12 s of driver
    time per call even with the relation cache warm — the largest in
    the suite) collapses to one analysis pass for the identical plan.
    Float parity notes: ``0D``/``0.5D`` double literals, never bare
    decimals (Spark parses ``0.0`` as DECIMAL; SCALING.md §12).
    """
    prep(spark)
    return spark.sql(
        f"""
        WITH cust_am AS (
          SELECT /*+ BROADCAST(n1), BROADCAST(r) */ c_custkey
          FROM {table_sql_ref(spark, sf_dir, "customer")} c
          JOIN {table_sql_ref(spark, sf_dir, "nation")} n1
            ON c.c_nationkey = n1.n_nationkey
          JOIN {table_sql_ref(spark, sf_dir, "region")} r
            ON n1.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'AMERICA'
        ),
        supnat AS (
          SELECT /*+ BROADCAST(n2) */ s_suppkey, n2.n_name AS nation
          FROM {table_sql_ref(spark, sf_dir, "supplier")} s
          JOIN {table_sql_ref(spark, sf_dir, "nation")} n2
            ON s.s_nationkey = n2.n_nationkey
        ),
        vol AS (
          SELECT /*+ BROADCAST(p), BROADCAST(sn), BROADCAST(cust_am) */
                 CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 sn.nation
          FROM {table_sql_ref(spark, sf_dir, "lineitem")} l
          JOIN (SELECT p_partkey FROM {table_sql_ref(spark, sf_dir, "part")}
                WHERE p_type = 'ECONOMY') p
            ON l.l_partkey = p.p_partkey
          JOIN supnat sn ON l.l_suppkey = sn.s_suppkey
          JOIN (SELECT o_orderkey, o_custkey, o_orderdate
                FROM {table_sql_ref(spark, sf_dir, "orders")}
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate <  TIMESTAMP '1998-01-01') o
            ON l.l_orderkey = o.o_orderkey
          LEFT SEMI JOIN cust_am ON o.o_custkey = cust_am.c_custkey
        )
        SELECT o_year,
               ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume
                              ELSE 0D END) / SUM(volume), 4) AS mkt_share
        FROM vol GROUP BY o_year
        """
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(SUM(CAST(ROUND(amount * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%gear%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    per year for parts matching a name pattern. partsupp is absent from
    the fixtures, so cost is modeled as 10% of p_retailprice per unit —
    same plan shape (pattern-filtered broadcast part dim, two fact
    joins, nation rollup), different constant.

    Float policy (r4): per-row amount is exactly 4-decimal-valued
    (2dp price × 2dp discount; 3dp cost term — probed against the
    fixtures), so both engines round it to a scaled BIGINT (×10⁴,
    never near a .5 boundary) and SUM integers — order-independent and
    bit-identical — then divide once. ROUND(SUM(double), 2) was a
    summation-order lottery: at sf0.1 one group's sum landed within
    1e-3 of a half-cent and the engines split (…936.61 vs .62).

    Single ``spark.sql`` statement since round 8 (VERDICT r7 item 3) —
    same plan, one analysis pass; the ``0.1D``/``10000D`` suffixes keep
    every constant a DOUBLE (a bare ``0.1`` parses as DECIMAL(1,1) and
    would silently move the amount arithmetic into decimal).
    """
    prep(spark)
    return spark.sql(
        f"""
        WITH supnat AS (
          SELECT /*+ BROADCAST(n) */ s_suppkey, n.n_name AS nation
          FROM {table_sql_ref(spark, sf_dir, "supplier")} s
          JOIN {table_sql_ref(spark, sf_dir, "nation")} n
            ON s.s_nationkey = n.n_nationkey
        ),
        amounts AS (
          SELECT /*+ BROADCAST(p), BROADCAST(sn) */
                 sn.nation,
                 CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount)
                   - 0.1D * p.p_retailprice * l.l_quantity AS amount
          FROM {table_sql_ref(spark, sf_dir, "lineitem")} l
          JOIN (SELECT p_partkey, p_retailprice
                FROM {table_sql_ref(spark, sf_dir, "part")}
                WHERE p_name LIKE '%gear%') p
            ON l.l_partkey = p.p_partkey
          JOIN supnat sn ON l.l_suppkey = sn.s_suppkey
          JOIN {table_sql_ref(spark, sf_dir, "orders")} o
            ON l.l_orderkey = o.o_orderkey
        )
        SELECT nation, o_year,
               SUM(CAST(ROUND(amount * 10000, 0) AS BIGINT)) / 10000D
                 AS sum_profit
        FROM amounts GROUP BY nation, o_year
        """
    )


@query(
    "q12_priority_class",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND l.l_returnflag = 'N'
    GROUP BY l_linestatus
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / priority): lines per status
    split into high- vs low-priority counts (shipmode is absent;
    linestatus carries the grouping). Single fact-fact join, then
    one-pass complementary CASE counts — the classic 'pivot two
    classes without two scans' aggregate.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_returnflag") == "N")
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of orders per
    customer, with a filter that lives in the OUTER-join condition (so
    customers whose only orders are urgent still appear with count 0 —
    a WHERE would silently drop them). Two-level aggregate: the first
    keyed on custkey, the second a tiny histogram rollup.
    """
    prep(spark)
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q14_promo_effect",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percentage of one month's revenue
    from PROMO parts. Broadcast part join + single-pass conditional
    ratio. The date filter prunes the fact scan before the join.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) with the maximum
    quarterly revenue — the view + scalar-MAX-subquery pattern,
    decorrelated into a window max over the aggregate (one shuffle,
    no re-scan of lineitem, no driver round-trip). Output is keys only
    per the suite rank-only rule: equality on the unrounded float is
    engine-stable because both sides compare a value against the max
    of the same set; the float itself never leaves the plan.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = rev.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(top), s["s_suppkey"] == top["l_suppkey"]
    ).select("s_suppkey", "s_name")


@query(
    "q17_small_quantity",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 5
      AND l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines whose
    quantity is below half that part's average. The correlated scalar
    AVG decorrelates into a per-part aggregate joined back on partkey —
    both sides of that join share the l_partkey shuffle key. Quantities
    are small integers stored as doubles, so SUM/AVG are exact in IEEE
    arithmetic and the threshold compare is engine-stable.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 5)
    )
    half_avg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(half_avg, li["l_partkey"] == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11 AND l.l_returnflag = 'N')
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20 AND l.l_linestatus = 'F')
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): OR of three AND-groups
    spanning both join sides. Catalyst extracts the common
    single-table residues (p_brand IN (...), p_size <= 15, quantity
    bands) and pushes them below the join while the cross-table OR
    stays as the join filter — the plan to verify is a broadcast join
    over two pre-filtered scans, not a filter over the full join.
    """
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
            & (F.col("l_returnflag") == "N")
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
            & (F.col("l_linestatus") == "F")
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): late lines
    (shipped >90 days after order) in finished multi-supplier orders
    where this supplier was the ONLY late one. The EXISTS / NOT EXISTS
    pair decorrelates into ONE per-order aggregate: n_suppliers =
    COUNT(DISTINCT suppkey) and n_late_suppliers = COUNT(DISTINCT
    suppkey WHERE late). Given l1 itself is late, 'another supplier
    exists' ⟺ n_suppliers ≥ 2 and 'no other supplier late' ⟺
    n_late_suppliers = 1 — so the two correlated subqueries cost one
    extra aggregate on the l_orderkey shuffle key the main join
    already uses (AQE reuses the exchange), instead of two more
    fact-fact joins.
    """
    prep(spark)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).cast(
            "int"
        ),
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_suppliers"),
    )
    s = table(spark, sf_dir, "supplier")
    return (
        lo.filter(F.col("is_late") == 1)
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter((F.col("n_suppliers") >= 2) & (F.col("n_late_suppliers") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_global_sales",
    oracle="""
    SELECT cntrycode, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT CAST(c.c_nationkey % 7 AS BIGINT) AS cntrycode, c.c_acctbal
      FROM customer c
      WHERE c.c_nationkey % 7 IN (1, 2, 3, 4, 5)
        AND c.c_acctbal > (
          SELECT AVG(c_acctbal) FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey % 7 IN (1, 2, 3, 4, 5)
        )
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01'
        )
    )
    GROUP BY cntrycode
    """,
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers from a
    country subset with above-average balances and no orders (phone
    prefixes are absent; nationkey mod 7 stands in for the country
    code). Three classic pieces: a scalar AVG subquery (broadcast
    1-row cross join — never a driver collect), an anti join on the
    customer key against orders date-filtered to the recent window
    (every fixture customer has *some* order, so the unfiltered anti
    join of classic Q22 would be vacuously empty — 'no orders since
    1999' keeps the original lapsed-customer intent), and a rollup.
    The threshold compare uses the raw double AVG; fixture balances
    are 2-decimal magnitudes ~10^3 while cross-engine AVG agreement
    is within ~1e-12, so no customer can sit inside the divergence
    band (probed; registry.py documents the residual-hazard rule).
    """
    prep(spark)
    c = table(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 7).cast("long")
    )
    eligible = c.filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    return (
        eligible.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 / Q11 / Q16 / Q20 — the partsupp-dependent quartet (round 6).
#
# The fixtures ship no partsupp table, so these four were documented out
# of scope through round 5. Round 6 unblocks them with a DERIVED
# partsupp: the TPC-H dbgen supplier-assignment formula (public spec,
# §4.2.3: 4 suppliers per part, suppkey_i = (partkey + i*(S/4 +
# partkey/S)) mod S, adapted to the fixtures' 0-based keys) plus
# deterministic integer hashes for availqty/supplycost. Both engines
# derive the identical relation from the same part/supplier inputs, so
# the four queries are fully hash-checkable — no synthetic files, no
# fixture mutation. Costs are carried as INTEGER CENTS end-to-end and
# divided by 100 only in the final projection: every sum/min/compare is
# exact int64 arithmetic in both engines, so cross-engine float
# summation-order noise cannot exist in these four queries at all.
#
# Scale notes (100 TB): partsupp is 4×|part| rows of 4 ints — a derived
# DIMENSION, not a fact. The derivation is projection + 4-way explode
# (no shuffle) + one DISTINCT keyed on (partkey, suppkey); the DISTINCT
# exists only for the degenerate tiny-S case where the dbgen step wraps
# (S=10 at sf0.001) and is map-side-combined into near-zero cost since
# keys are already nearly unique. In production this relation would be
# materialized once and bucketed by ps_partkey alongside part.
# ---------------------------------------------------------------------------

#: DuckDB CTE bodies for the derived partsupp (prepend "WITH ").
_PARTSUPP_SQL = """sc AS (SELECT COUNT(*) AS cnt FROM supplier),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             (ps_partkey * 37 + ps_suppkey * 71) % 9999 + 1 AS ps_availqty,
             (ps_partkey * 7919 + ps_suppkey * 104729) % 99901 + 100
               AS ps_cost_cents
      FROM (
        SELECT DISTINCT p_partkey AS ps_partkey,
               (p_partkey + i * (cnt // 4 + p_partkey // cnt)) % cnt
                 AS ps_suppkey
        FROM part, sc, (SELECT UNNEST([0, 1, 2, 3]) AS i)
      )
    )"""


def _partsupp_spark_cte(spark: SparkSession, sf_dir: str) -> str:
    """The derived partsupp relation (see module comment above) as a
    Spark-SQL CTE body — the Spark twin of the DuckDB ``_PARTSUPP_SQL``
    CTE, embedded by the quartet's single-SQL bodies (round 7: their
    chained-DataFrame builds cost 0.4–0.8 s of driver time each,
    SCALING.md §12). tests/test_partsupp.py pins the two forms to the
    same rows and key types.

    PURE MAP since round 10 (VERDICT r9 item 2): the suppkey-collision
    dedup is strictly PER-PART — the formula's 4 values can only
    collide for the same p_partkey — so a row-local ``array_distinct``
    before the explode is the identical relation with ZERO shuffle (the
    old global DISTINCT exchanged all 4·|part| derived rows before
    every quartet query's own keyed work). LATERAL VIEW OUTER keeps
    InferFiltersFromGenerate from synthesizing a size()>0 filter (r6
    rule — the array is non-empty by construction). The DuckDB
    ``_PARTSUPP_SQL`` keeps its DISTINCT form: same relation, and the
    oracle's dataflow budget is DuckDB's concern, not the engine plan
    under grade.

    Supplier cardinality S enters the plan as a LITERAL read from
    parquet footer metadata (optimization r16, guide §6 "metadata, not
    data"): the old broadcast 1-row COUNT(*) aggregate put a whole
    extra scan+aggregate+broadcast query stage on the critical path of
    every quartet key, and the footer count is the same exact integer
    (at 100 TB, the catalog/ANALYZE statistic). Measured at sf0.1 on
    q11's derive: 0.534 → 0.367 s median, same session, rows
    identical."""
    part = table_sql_ref(spark, sf_dir, "part")
    cnt = row_count(sf_dir, "supplier")
    step = f"({cnt} div 4 + p_partkey div {cnt})"
    arr = ", ".join(f"(p_partkey + {i} * {step}) % {cnt}" for i in range(4))
    return f"""partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             (ps_partkey * 37 + ps_suppkey * 71) % 9999 + 1 AS ps_availqty,
             (ps_partkey * 7919 + ps_suppkey * 104729) % 99901 + 100
               AS ps_cost_cents
      FROM (
        SELECT p_partkey AS ps_partkey, sk AS ps_suppkey
        FROM {part}
        LATERAL VIEW OUTER explode(array_distinct(array({arr}))) tf AS sk
      )
    )"""


def _supp_region_sql(spark: SparkSession, sf_dir: str, r_name: str) -> str:
    """Spark-SQL subquery: suppliers restricted to one region, with
    their nation name — a ≤|supplier|-row dimension; callers hint it
    broadcast at the consuming join."""
    return f"""(SELECT /*+ BROADCAST(n, r) */ s_suppkey, s_name,
               s_acctbal, n_name
        FROM {table_sql_ref(spark, sf_dir, "supplier")} s
        JOIN {table_sql_ref(spark, sf_dir, "nation")} n
          ON s_nationkey = n_nationkey
        JOIN {table_sql_ref(spark, sf_dir, "region")} r
          ON n_regionkey = r_regionkey
        WHERE r_name = '{r_name}')"""


@query(
    "q2_min_cost_supplier",
    oracle="WITH "
    + _PARTSUPP_SQL
    + """,
    eursupp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), cand AS (
      SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, ps_cost_cents
      FROM part
      JOIN partsupp ON p_partkey = ps_partkey
      JOIN eursupp ON ps_suppkey = s_suppkey
      WHERE p_type = 'ECONOMY' AND p_size <= 15
    ), mc AS (
      SELECT p_partkey AS mk, MIN(ps_cost_cents) AS min_cents
      FROM cand GROUP BY p_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ROUND(min_cents / 100.0, 2) AS supplycost
    FROM cand JOIN mc ON p_partkey = mk AND ps_cost_cents = min_cents
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small ECONOMY
    part, the European supplier(s) offering it at the region-minimum
    supplycost. The correlated MIN subquery is a per-part window
    minimum over one pass of the candidate frame (round 10; the
    DuckDB oracle keeps the equivalent aggregate + re-join
    decorrelation). p_brand stands in for the absent p_mfgr. Cost
    ties emit all tied suppliers in both engines (every row whose
    cost equals its part's window min survives — no top-k, no float
    rank).

    Scale: part is filtered before the partsupp join (predicate reaches
    the scan); the region-restricted supplier dim (~S/5 rows) is
    broadcast; the only shuffle is the p_partkey partitioning of the
    window that computes the per-part minimum in one pass (round 10 —
    the earlier groupBy + re-join form macro-expanded the whole cand
    subtree twice; see the ranked CTE comment).

    Single ``spark.sql`` statement since round 7: the chained-DataFrame
    build cost 0.64 s of driver time per call — 79%% of the query's
    0.81 s bench median at fixture scale (SCALING.md §12) — for the
    identical plan.
    """
    prep(spark)
    return spark.sql(
        f"""
        WITH {_partsupp_spark_cte(spark, sf_dir)},
        eursupp AS (SELECT * FROM {_supp_region_sql(spark, sf_dir, "EUROPE")}),
        cand AS (
          SELECT /*+ BROADCAST(eursupp) */ p_partkey, p_brand, s_name,
                 s_acctbal, n_name, ps_cost_cents
          FROM (SELECT p_partkey, p_brand
                FROM {table_sql_ref(spark, sf_dir, "part")}
                WHERE p_type = 'ECONOMY' AND p_size <= 15) p
          JOIN partsupp ON p_partkey = ps_partkey
          JOIN eursupp ON ps_suppkey = s_suppkey
        ), ranked AS (
          -- Round 10: the decorrelated MIN as a WINDOW over one pass
          -- of cand instead of a groupBy + re-join. WITH is macro-
          -- expansion, so the re-join form expanded the entire
          -- cand subtree (partsupp derive + both joins) under BOTH
          -- mc and the final join; the window needs cand once, and
          -- its p_partkey partitioning is the same single shuffle
          -- the aggregate paid. Tie semantics are identical: every
          -- row whose cost equals its part's min survives the
          -- filter, exactly the rows the equi-join kept.
          SELECT p_partkey, p_brand, s_name, s_acctbal, n_name,
                 ps_cost_cents,
                 MIN(ps_cost_cents) OVER (PARTITION BY p_partkey)
                   AS min_cents
          FROM cand
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
               -- 100.0 alone would parse as DECIMAL(4,1) in SQL (the
               -- DataFrame form's Python float was DOUBLE); keep the
               -- division in doubles for bit-parity with the oracle
               ROUND(min_cents / CAST(100.0 AS DOUBLE), 2) AS supplycost
        FROM ranked WHERE ps_cost_cents = min_cents
        """
    )


@query(
    "q11_important_stock",
    oracle="WITH "
    + _PARTSUPP_SQL
    + """,
    scope AS (
      SELECT ps_partkey, ps_availqty * ps_cost_cents AS v
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ), tot AS (
      SELECT SUM(v) AS t, COUNT(DISTINCT ps_partkey) AS np FROM scope
    )
    SELECT ps_partkey, ROUND(SUM(v) / 100.0, 2) AS stock_value
    FROM scope, tot
    GROUP BY ps_partkey, t, np
    HAVING np * SUM(v) > 2 * t
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    stock value held by Asian suppliers exceeds 2× the mean per-part
    value in that scope. Classic Q11's fixed fraction (0.0001/SF) goes
    to zero rows as data grows; the mean-relative threshold
    ``np * SUM(v) > 2 * t`` is scale-invariant AND pure int64 — no
    float threshold to straddle. value cents ≤ 1e9/row keeps
    np·Σv < 2^63 through sf100.

    Scale: one shuffle on ps_partkey for the per-part sum; the global
    total is a broadcast 1-row aggregate, never a collect.

    Round 10 (VERDICT r9 item 2): ``tot`` rolls up from ``agg``
    instead of from ``scope`` — Σ(sv) over the per-part sums equals
    Σ(v) over scope, and COUNT(*) over agg equals COUNT(DISTINCT
    ps_partkey) over scope, exactly (integer sums, no reordering
    hazard), which also removed the COUNT(DISTINCT) two-phase expand
    over the full 4|part|-row scope.

    Optimization r15 (guide §1.2 "don't compute things you throw
    away" / §3.3 "materialising an intermediate truncates the plan"):
    even with the agg-level rollup, WITH is macro-expansion, so the
    entire derive→join→aggregate subtree still expanded under BOTH
    the tot branch and the final select — the r15 plan capture shows
    10 parquet scans and ZERO runtime stage reuse (AQE's
    ReusedExchange does not fire across the differently-projected
    copies). The ≤|part|-row ``agg`` frame is now materialized ONCE
    with localCheckpoint and both consumers (the 1-row tot aggregate
    and the filtered select) read the RDD: half the work, and the
    scalar threshold stays a broadcast, never a collect. Interleaved
    A/B at sf0.1 (4 warmups + n=5, two reps): 0.598→0.415 and
    0.410→0.375 s medians, output cell-identical.

    Freeze-at-declare semantics (ADVICE r15): the localCheckpoint runs
    eagerly when this function is CALLED, so the returned frame
    reflects the source dir as of declaration (fine for the bench and
    driver contract — both call-then-execute immediately over
    immutable fixture dirs) and its RDD blocks live until the session
    ends (≤|part| rows each; the dedup_cluster_cc precedent). A lazy
    checkpoint was A/B'd in r16 isolation and lost (~0.51 vs ~0.47 s
    cold-session medians).
    """
    prep(spark)
    agg = spark.sql(
        f"""
        WITH {_partsupp_spark_cte(spark, sf_dir)},
        asiasupp AS (
          SELECT s_suppkey FROM {_supp_region_sql(spark, sf_dir, "ASIA")}
        ),
        scope AS (
          SELECT /*+ BROADCAST(asiasupp) */ ps_partkey,
                 ps_availqty * ps_cost_cents AS v
          FROM partsupp JOIN asiasupp ON ps_suppkey = s_suppkey
        )
        SELECT ps_partkey, SUM(v) AS sv FROM scope GROUP BY ps_partkey
        """
    ).localCheckpoint()
    tot = agg.agg(F.sum("sv").alias("t"), F.count(F.lit(1)).alias("np"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .filter(F.col("np") * F.col("sv") > 2 * F.col("t"))
        .select(
            "ps_partkey",
            # CAST keeps the division DOUBLE (bare 100.0 is DECIMAL in
            # SQL parsing; this DataFrame form uses a Python double)
            F.round(F.col("sv") / F.lit(100.0).cast("double"), 2).alias(
                "stock_value"
            ),
        )
    )


@query(
    "q16_supplier_variety",
    oracle="WITH "
    + _PARTSUPP_SQL
    + """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp
    JOIN part ON ps_partkey = p_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 7, 9, 14, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can provide each surviving (brand, type, size) combination,
    excluding flagged suppliers. The fixtures carry no supplier comment
    column, so negative account balance stands in for the complaints
    filter; the NOT IN becomes a broadcast left-anti join.

    Scale: part's three predicates push to its scan; the anti-join side
    is a handful of keys (broadcast); one shuffle for the distinct-count
    aggregate, which Spark runs as the standard two-phase expand.
    """
    prep(spark)
    return spark.sql(
        f"""
        WITH {_partsupp_spark_cte(spark, sf_dir)},
        p AS (
          SELECT p_partkey, p_brand, p_type, p_size
          FROM {table_sql_ref(spark, sf_dir, "part")}
          WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
            AND p_size IN (1, 7, 9, 14, 23, 36, 45, 49)
        ),
        flagged AS (
          SELECT s_suppkey FROM {table_sql_ref(spark, sf_dir, "supplier")}
          WHERE s_acctbal < 0
        )
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM (
          SELECT /*+ BROADCAST(flagged) */ ps_suppkey, p_brand, p_type,
                 p_size
          FROM partsupp
          JOIN p ON ps_partkey = p_partkey
          LEFT ANTI JOIN flagged ON ps_suppkey = s_suppkey
        )
        GROUP BY p_brand, p_type, p_size
        """
    )


@query(
    "q20_excess_stock",
    oracle="WITH "
    + _PARTSUPP_SQL
    + """,
    shipped AS (
      SELECT l_partkey, l_suppkey, CAST(SUM(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ), excess AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') pp
        ON ps_partkey = p_partkey
      JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      WHERE 2 * ps_availqty > qty
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM excess
    JOIN supplier ON ps_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
    """,
)
def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): African suppliers
    holding excess stock — more than half of what they shipped in 1997 —
    of any 'small…' part. The correlated half-of-shipped subquery is
    decorrelated into a per-(part, supplier) lineitem aggregate joined
    back on both keys; pairs with no 1997 shipments drop out of the
    inner join exactly as the NULL scalar subquery drops them in SQL.
    The quantity sum is cast to int64 (fixture quantities are
    integer-valued — asserted by tests) so the 2·availqty > qty compare
    is exact integer arithmetic in both engines.

    Scale: lineitem is the only fact — its date filter pushes to the
    scan and the aggregate is keyed on (l_partkey, l_suppkey); the
    part-name filter and region-supplier dims broadcast; DISTINCT
    suppliers is a few-hundred-row shuffle.
    """
    prep(spark)
    return spark.sql(
        f"""
        WITH {_partsupp_spark_cte(spark, sf_dir)},
        shipped AS (
          SELECT l_partkey, l_suppkey,
                 CAST(SUM(l_quantity) AS BIGINT) AS qty
          FROM {table_sql_ref(spark, sf_dir, "lineitem")}
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
          GROUP BY l_partkey, l_suppkey
        ),
        pp AS (
          SELECT p_partkey FROM {table_sql_ref(spark, sf_dir, "part")}
          WHERE p_name LIKE 'small%'
        ),
        excess AS (
          SELECT DISTINCT ps_suppkey
          FROM (
            SELECT /*+ BROADCAST(pp) */ ps_suppkey, ps_availqty, qty
            FROM partsupp
            JOIN pp ON ps_partkey = p_partkey
            JOIN shipped
              ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          )
          WHERE 2 * ps_availqty > qty
        ),
        afrisupp AS (SELECT * FROM {_supp_region_sql(spark, sf_dir, "AFRICA")})
        SELECT /*+ BROADCAST(afrisupp) */ s_suppkey, s_name, s_acctbal
        FROM excess JOIN afrisupp ON ps_suppkey = s_suppkey
        """
    )
