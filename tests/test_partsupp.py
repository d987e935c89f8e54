"""Properties and plan shapes of the derived partsupp relation
(round 6 — operators/tpch.py): the TPC-H Q2/Q11/Q16/Q20 quartet runs
against a relation DERIVED deterministically from the shipped
part/supplier tables, so these tests pin the invariants the four
oracles rely on — primary-key uniqueness, per-part supplier fan-out,
and value ranges — plus the load-bearing plan shapes (pushed-down
part/lineitem predicates, broadcast dims, no fact-side broadcast).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_large_window_spark.operators.tpch import _partsupp_spark_cte
from flink_large_window_spark.registry import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.test_plans import _plan


def derived_partsupp(spark, sf_dir):
    """The derived partsupp relation exactly as the quartet's SQL
    bodies embed it."""
    return spark.sql(
        "WITH " + _partsupp_spark_cte(spark, sf_dir) + " SELECT * FROM partsupp"
    )


def test_partsupp_primary_key_and_ranges(spark):
    ps = derived_partsupp(spark, SF_ORACLE)
    agg = ps.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("ps_partkey", "ps_suppkey").alias("n_pk"),
        F.min("ps_availqty").alias("qmin"),
        F.max("ps_availqty").alias("qmax"),
        F.min("ps_cost_cents").alias("cmin"),
        F.max("ps_cost_cents").alias("cmax"),
    ).collect()[0]
    assert agg.n == agg.n_pk, "(ps_partkey, ps_suppkey) must be unique"
    # dbgen ranges: availqty 1..9999, supplycost $1.00..$1000.99 cents
    assert 1 <= agg.qmin and agg.qmax <= 9999
    assert 100 <= agg.cmin and agg.cmax <= 100000


def test_partsupp_fanout_four_suppliers_per_part(spark):
    # The step s(p) = S//4 + p//S collides two of the four i·s(p) mod S
    # offsets iff d·s(p) ≡ 0 (mod S) for some d in 1..3 — at S=100 that
    # means s(p) ≡ 0 (mod 50), i.e. p//100 ≡ 25 (mod 50) (p in
    # [2500,2599] + k·5000). Exact-4 fan-out is therefore NOT a property
    # of S alone ("S >= 100" is insufficient): it holds only while no
    # part falls in a wrap band, so derive that precondition from the
    # fixture's actual part-key range before asserting on it.
    from flink_large_window_spark.tables import table

    bounds = (
        table(spark, SF_ORACLE, "part")
        .join(
            table(spark, SF_ORACLE, "supplier").agg(
                F.count(F.lit(1)).alias("s")
            )
        )
        .select(
            # the four offsets i·s(p) mod S (i=0..3) are pairwise
            # distinct iff d·s(p) mod S ≠ 0 for every difference
            # d in 1..3 — assert no part violates that, exactly.
            F.max(
                F.expr(
                    "CASE WHEN ((s div 4 + p_partkey div s) % s = 0)"
                    " OR (2 * (s div 4 + p_partkey div s) % s = 0)"
                    " OR (3 * (s div 4 + p_partkey div s) % s = 0)"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("any_wrap")
        )
        .collect()[0]
    )
    assert bounds.any_wrap == 0, (
        "fixture regen put a part in a dbgen wrap band; the exact-4 "
        "assertion below no longer applies — re-derive the expectation"
    )
    ps = derived_partsupp(spark, SF_ORACLE)
    fan = (
        ps.groupBy("ps_partkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.min("k").alias("kmin"), F.max("k").alias("kmax"))
        .collect()[0]
    )
    assert fan.kmin == 4 and fan.kmax == 4
    tiny = (
        derived_partsupp(spark, SF_SMOKE)
        .groupBy("ps_partkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.min("k").alias("kmin"))
        .collect()[0]
    )
    assert tiny.kmin >= 1


def test_partsupp_matches_supplier_key_space(spark):
    # Every derived ps_suppkey must reference a real supplier row —
    # the quartet's joins rely on referential integrity.
    from flink_large_window_spark.tables import table

    ps = derived_partsupp(spark, SF_ORACLE)
    supp = table(spark, SF_ORACLE, "supplier").select("s_suppkey")
    orphans = ps.join(
        supp, ps.ps_suppkey == supp.s_suppkey, "left_anti"
    ).count()
    assert orphans == 0


def test_q20_pushes_date_filter_to_lineitem_scan(spark):
    plan = _plan(REGISTRY["q20_excess_stock"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "l_shipdate" in ln
    ]
    assert pushed, "lineitem date range must reach the parquet scan"


def test_q2_broadcasts_region_supplier_dim(spark):
    # the explicitly-broadcast region-restricted supplier dim must
    # plan as a broadcast join (fixture stats would allow broadcasting
    # almost anything, so this only pins the explicit hint's effect).
    plan = _plan(REGISTRY["q2_min_cost_supplier"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q16_antijoin_is_broadcast(spark):
    plan = _plan(REGISTRY["q16_supplier_variety"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_partsupp_three_forms_identical(spark):
    """The derived-partsupp formula has two renderings: the DuckDB
    oracle CTE (_PARTSUPP_SQL) and the Spark-SQL CTE the quartet's
    single-SQL bodies embed (_partsupp_spark_cte). Any drift between
    them silently shifts four hash-checked keys, so pin Spark ≡ DuckDB
    directly: the same row set, and 64-bit keys on both sides (equal
    rows alone would let a dtype drift through whenever the fixture
    keys happen to fit either type)."""
    from pyspark.sql.types import LongType

    from flink_large_window_spark.operators.tpch import _PARTSUPP_SQL
    from tests.check_oracle import duck_con

    cols = ("ps_partkey", "ps_suppkey", "ps_availqty", "ps_cost_cents")
    sql_df = derived_partsupp(spark, SF_ORACLE).select(*cols)
    for key in ("ps_partkey", "ps_suppkey"):
        assert isinstance(sql_df.schema[key].dataType, LongType), key
    con = duck_con(SF_ORACLE)
    duck = con.sql(
        "WITH " + _PARTSUPP_SQL + f" SELECT {', '.join(cols)} FROM partsupp"
    )
    duck_types = dict(zip(duck.columns, map(str, duck.types)))
    for key in ("ps_partkey", "ps_suppkey"):
        assert duck_types[key] == "BIGINT", (key, duck_types[key])
    assert sorted(map(tuple, sql_df.collect())) == sorted(duck.fetchall())
