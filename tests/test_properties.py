"""Property tests (SURVEY §5.5) for the cross-engine invariants the
oracle suite is built on — generated micro-frames, Spark vs DuckDB."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
prices = st.floats(min_value=0.01, max_value=1e5, allow_nan=False)
discounts = st.floats(min_value=0.0, max_value=0.1, allow_nan=False)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(prices, discounts), min_size=1, max_size=20))
def test_per_row_arithmetic_bit_exact(spark, rows):
    """price*(1-disc) must be BIT-identical across engines (same IEEE
    ops in the same order) — the reason per-row arithmetic needs no
    rounding in the oracles."""
    df = spark.createDataFrame(rows, "p double, d double")
    s = [r[0] for r in df.select((F.col("p") * (1 - F.col("d"))).alias("x")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (p DOUBLE, d DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    d = [r[0] for r in con.execute("SELECT p * (1 - d) FROM t").fetchall()]
    assert [repr(x) for x in s] == [repr(x) for x in d]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab c1é ", min_size=0, max_size=30), min_size=1, max_size=10))
def test_string_ops_parity(spark, texts):
    """lower/trim/length parity on arbitrary (incl. unicode) strings."""
    rows = [(t,) for t in texts]
    df = spark.createDataFrame(rows, "t string")
    s = sorted(
        (r[0], r[1], r[2])
        for r in df.select(
            F.lower("t"), F.trim("t"), F.length("t")
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    d = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            "SELECT lower(t), trim(t), CAST(length(t) AS INTEGER) FROM t"
        ).fetchall()
    )
    assert s == d


def test_round_divergence_is_understood(spark):
    """Documents the KNOWN cross-engine round() divergence (shortest-
    repr half-up vs binary scaling): 1.005 diverges, plain values
    don't. Guards against silently changing rounding machinery."""
    df = spark.createDataFrame([(1.005,), (2.675,), (123.45,)], "x double")
    s = [r[0] for r in df.select(F.round("x", 2)).collect()]
    assert s == [1.01, 2.68, 123.45]  # Spark: shortest-repr HALF_UP
    d = [
        r[0]
        for r in duckdb.sql(
            "SELECT round(CAST(x AS DOUBLE), 2) FROM (SELECT UNNEST([1.005, 2.675, 123.45]) x)"
        ).fetchall()
    ]
    assert d == [1.0, 2.68, 123.45]  # DuckDB: scaled rounding of binary value


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=3_000_000),  # µs offsets ≤ 50 min
        min_size=1,
        max_size=30,
    )
)
def test_session_split_semantics(spark, offsets_us):
    """Session windows split exactly when gap >= 30 min — the pinned
    contract the window_session_agg oracle reproduces."""
    from flink_large_window_spark.streaming.windows import session_agg

    base = 1_704_067_200_000_000  # 2024-01-01 UTC in µs
    ts = sorted(base + sum(offsets_us[: i + 1]) for i in range(len(offsets_us)))
    rows = [(1, t) for t in ts]
    df = spark.createDataFrame(rows, "user_id long, us long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    sessions = session_agg(df).collect()
    # reference: gaps-and-islands split at >= 30 min
    gap_us = 30 * 60 * 1_000_000
    n_sessions, prev = 0, None
    for t in ts:
        if prev is None or t - prev >= gap_us:
            n_sessions += 1
        prev = t
    assert len(sessions) == n_sessions
    assert sum(r["n_events"] for r in sessions) == len(ts)


def test_hash_sampling_partition_invariant(spark):
    """The hash-mod sample must pick the SAME rows regardless of how
    the input is partitioned — the property seeded sample() lacks and
    the reason the suite uses key-hash membership for reproducible
    splits at scale."""
    import pyspark.sql.functions as F

    from flink_large_window_spark.tables import prep, table

    prep(spark)
    li = table(spark, SF_SMOKE, "lineitem")
    keep = (F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 7919) % 97 < 10

    def picked(df):
        return {
            (r["l_orderkey"], r["l_linenumber"])
            for r in df.filter(keep).select("l_orderkey", "l_linenumber").collect()
        }

    base = picked(li)
    assert base == picked(li.repartition(3))
    assert base == picked(li.repartition(17, "l_suppkey"))
    assert 0.05 < len(base) / li.count() < 0.16  # ~10/97 ± slack


def test_mapinpandas_kernels_survive_empty_partitions(spark):
    """At cluster scale, partitions CAN be empty (skew, pruning). Every
    Arrow-batched kernel must tolerate input partitions with no rows
    (Spark skips empty partitions; this pins that no kernel assumes
    ≥1 batch or ≥1 row). Each table is hash-partitioned on a constant
    into 2×cores partitions — one hot partition, the rest empty — and
    the emptiness is counted, not assumed."""
    import pyspark.sql.functions as F

    import flink_large_window_spark.llm.dedup as dedup_mod
    import flink_large_window_spark.llm.multimodal as mm_mod
    import flink_large_window_spark.llm.text as text_mod
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import table as orig

    n_parts = 2 * spark.sparkContext.defaultParallelism
    calls = []

    def skewed(spark_, sf_dir, name):
        calls.append(name)
        df = orig(spark_, sf_dir, name).repartition(n_parts, F.lit(0))
        used = df.select(F.spark_partition_id()).distinct().count()
        assert used < n_parts, f"no empty input partition for {name}"
        return df

    # Operator modules bind `table` at import time (`from ..tables import
    # table`), so the wrapper must be patched into EACH consuming module —
    # round 1 patched flink_large_window_spark.tables.table, which none of
    # the kernels resolve at call time, making the test vacuous (ADVICE r1).
    # dedup_simhash left this list in round 7: it has been all-JVM
    # since round 6b (no Arrow kernel to starve of batches) and now
    # builds as one spark.sql statement over a parquet ref, so the
    # table() seam no longer exists there by design (SCALING.md §12).
    cases = {
        "dedup_embed_cosine": dedup_mod,
        "multimodal_embed_quantize": mm_mod,
        "text_fingerprint_rolling": text_mod,
    }
    for key, mod in cases.items():
        saved = mod.table
        mod.table = skewed
        try:
            n0 = len(calls)
            assert REGISTRY[key](spark, SF_SMOKE).count() == 500, key
            assert len(calls) > n0, f"wrapper never invoked for {key}"
        finally:
            mod.table = saved


def test_cep_family_consistency(spark):
    """Cross-key invariants of the CEP quantifier family on the same
    data: every times(2) match is also a followedBy match (two strictly
    consecutive clicks imply clicks_6h >= 2 at that purchase), every
    times(2) match appears in oneOrMore as a maximal run of exactly 2,
    and oneOrMore runs are maximal (never the suffix of a longer one —
    checked by requiring distinct purchase events)."""
    from flink_large_window_spark.registry import REGISTRY

    times = {
        (r["user_id"], r["purchase_event"])
        for r in REGISTRY["pattern_detect_times"](spark, SF_SMOKE).collect()
    }
    followed = {
        (r["user_id"], r["purchase_event"])
        for r in REGISTRY["pattern_detect_followedby"](spark, SF_SMOKE).collect()
    }
    assert times <= followed, f"times(2) not a subset: {sorted(times - followed)[:3]}"

    one = REGISTRY["pattern_detect_oneormore"](spark, SF_SMOKE).collect()
    by_purchase = {}
    for r in one:
        key = (r["user_id"], r["purchase_event"])
        assert key not in by_purchase, f"duplicate maximal run for {key}"
        by_purchase[key] = r["n_clicks"]
    for key in times:
        assert by_purchase.get(key) == 2, (
            f"times(2) match {key} should be a maximal 2-click run, "
            f"got {by_purchase.get(key)}"
        )


def test_spread_width_gates_on_scan_units_not_rows(spark, tmp_path_factory):
    """r9 policy change: the spread no-op is decided by the layout's
    row-group count (scan parallelism), not by row count. The old
    ``rows > 1M`` gate starved a single-row-group 5 M-doc replica on
    one core (minhash 37× slower than linear — SCALING.md §13); the
    new gate spreads a corpus whose layout scans at less than HALF the
    target width, and stays a no-op when the layout already
    parallelizes (the 100 TB case) — including near-adequate layouts
    (ADVICE r9: a 20-row-groups-vs-32-target shortfall is not worth a
    full-corpus shuffle)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark.tables import (
        row_count,
        scan_units,
        spread_width,
    )

    n = 1_200_000  # above the OLD gate's threshold
    tbl = pa.table({"doc_id": pa.array(range(n), type=pa.int64())})
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # One row group, 1.2 M rows: the old policy no-op'd here; the new
    # one must spread to the full target width.
    d1 = str(tmp_path_factory.mktemp("spread_one_rg"))
    pq.write_table(
        tbl, os.path.join(d1, "documents.parquet"), row_group_size=n
    )
    assert scan_units(d1, "documents") == 1
    assert spread_width(spark, d1, "documents") == max(4, min(width, n // 150))

    # Same rows in many row groups: the layout parallelizes by itself
    # and a repartition would be a pure extra shuffle — no-op.
    d2 = str(tmp_path_factory.mktemp("spread_many_rg"))
    pq.write_table(
        tbl, os.path.join(d2, "documents.parquet"), row_group_size=n // width
    )
    assert scan_units(d2, "documents") >= width
    assert spread_width(spark, d2, "documents") is None

    # Near-adequate layout (half the target): the slack keeps the
    # no-op — a repartition here would pay a full shuffle for at most
    # a 2× task-count gain. ceil(width/2) row groups, not width//2,
    # so the case stays on the no-op side of units*2 >= target for
    # ODD shuffle widths too (review r10).
    half_up = -(-width // 2)
    d3 = str(tmp_path_factory.mktemp("spread_half_rg"))
    pq.write_table(
        tbl,
        os.path.join(d3, "documents.parquet"),
        row_group_size=-(-n // half_up),
    )
    units = scan_units(d3, "documents")
    target = max(4, min(width, n // 150))
    assert units < width and units * 2 >= target
    assert spread_width(spark, d3, "documents") is None

    # Fixture scale is untouched by the change: single row group below
    # the width target keeps its historical rows // 150 width (row
    # count derived from the footer, not hardcoded — a regenerated
    # fixture at another size must not fail this test for an unrelated
    # reason).
    fixture_rows = row_count(SF_SMOKE, "documents")
    assert spread_width(spark, SF_SMOKE, "documents") == max(
        4, min(width, fixture_rows // 150)
    )


def test_operators_unchanged_on_partitioned_directory_layout(spark):
    """tables.py promises the fixture loaders are the single place the
    100 TB layout change lands ("these would be partitioned datasets").
    Prove it: rebuild the documents table as a lang-partitioned
    DIRECTORY dataset (the layout a real corpus ships with) and run
    three operators spanning the access paths — table() DataFrame
    reads (dedup_exact, text_tfidf_topterms) and the round-7
    table_sql_ref single-SQL path with its footer-derived REPARTITION
    width (dedup_near_minhash) — asserting cell-identical results vs
    the single-file fixture. Covers: directory row_count/spread_width,
    parquet.`dir` partition discovery, and column-order drift from
    partitionBy moving the partition column last."""
    import os

    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.scratch import scratch_dir
    from flink_large_window_spark.tables import row_count, table

    part_sf = scratch_dir("flws_partlayout_sf_")
    docs = table(spark, SF_SMOKE, "documents")
    (
        docs.write.mode("overwrite")
        .partitionBy("lang")
        .parquet(os.path.join(part_sf, "documents.parquet"))
    )
    assert row_count(part_sf, "documents") == row_count(SF_SMOKE, "documents")

    for key in ("dedup_exact", "text_tfidf_topterms", "dedup_near_minhash"):
        base = sorted(
            map(tuple, REGISTRY[key](spark, SF_SMOKE).collect())
        )
        part = sorted(
            map(tuple, REGISTRY[key](spark, part_sf).collect())
        )
        assert base == part, (
            f"{key} diverges on the partitioned-directory layout"
        )


def test_invalidate_refreshes_rewritten_dir(spark, tmp_path_factory):
    """tables.invalidate(sf_dir) is the escape hatch for the
    immutable-dir contract of the session memo (ADVICE r7): repeat
    calls serve the memoized relation, view and footer counts; after
    rewriting a table file in-place, invalidate + re-table() must
    observe the new data (and refresh the table_sql_ref view)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark import tables

    d = str(tmp_path_factory.mktemp("invalidate"))
    path = os.path.join(d, "region.parquet")

    def write(n):
        pq.write_table(
            pa.table(
                {
                    "r_regionkey": pa.array(range(n), pa.int64()),
                    "r_name": pa.array([f"R{i}" for i in range(n)]),
                }
            ),
            path,
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    write(3)
    first = tables.table(spark, d, "region")
    assert first.count() == 3
    assert tables.table(spark, d, "region") is first
    view = tables.table_sql_ref(spark, d, "region")
    assert spark.sql(f"SELECT COUNT(*) c FROM {view}").collect()[0]["c"] == 3
    assert tables.table_sql_ref(spark, d, "region") == view

    # a rebuild over unchanged data is a new relation with the same rows
    tables.invalidate(d)
    rebuilt = tables.table(spark, d, "region")
    assert rebuilt is not first
    assert rows(rebuilt) == rows(first)

    # footer-metric memo (late r10) obeys the same contract: cached
    # while the dir is immutable, evicted by invalidate
    assert tables.row_count(d, "region") == 3

    write(5)  # in-place rewrite: caches are now stale by contract
    assert tables.row_count(d, "region") == 3, "footer counts not cached"
    assert tables.table(spark, d, "region") is rebuilt
    tables.invalidate(d)
    assert tables.row_count(d, "region") == 5
    assert tables.table(spark, d, "region").count() == 5
    view2 = tables.table_sql_ref(spark, d, "region")
    assert spark.sql(f"SELECT COUNT(*) c FROM {view2}").collect()[0]["c"] == 5


def test_memo_is_scoped_per_session(spark):
    """The memo key holds the session: repeat calls in one session
    return the same relation and view name, while spark.newSession()
    — whose temp-view catalog is its own — resolves its own relation
    and registers the view in its own catalog."""
    from flink_large_window_spark import tables

    df = tables.table(spark, SF_SMOKE, "nation")
    assert tables.table(spark, SF_SMOKE, "nation") is df
    view = tables.table_sql_ref(spark, SF_SMOKE, "nation")
    assert tables.table_sql_ref(spark, SF_SMOKE, "nation") == view
    n = spark.sql(f"SELECT COUNT(*) c FROM {view}").collect()[0]["c"]

    other = spark.newSession()
    assert not other.catalog.tableExists(view), "temp views leak across sessions"
    other_df = tables.table(other, SF_SMOKE, "nation")
    assert other_df is not df
    assert tables.table(other, SF_SMOKE, "nation") is other_df
    other_view = tables.table_sql_ref(other, SF_SMOKE, "nation")
    assert other_view == view  # same dir, same name, other catalog
    assert other.catalog.tableExists(other_view)
    assert other.sql(f"SELECT COUNT(*) c FROM {other_view}").collect()[0]["c"] == n
    assert tables.table(spark, SF_SMOKE, "nation") is df


def test_invalidate_evicts_trained_quantizer(spark, tmp_path_factory):
    """The IVF quantizer memo (similarity.ivf_centroids through
    tables.memo) is a derived-data cache over the same immutable-dir
    contract: repeat calls serve the same 16-row relation, a retrain
    over unchanged data is value-identical, and after an in-place
    corpus rewrite + invalidate the quantizer must retrain on the new
    data."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark import tables
    from flink_large_window_spark.llm.similarity import ivf_centroids

    d = str(tmp_path_factory.mktemp("quantizer_evict"))
    path = os.path.join(d, "embeddings.parquet")
    rng = np.random.default_rng(11)

    def write(n, seed_shift):
        mat = rng.normal(size=(n, 64)).astype(np.float32) + seed_shift
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        [list(r) for r in mat], pa.list_(pa.float32())
                    ),
                    "label": pa.array([0] * n, pa.int64()),
                }
            ),
            path,
        )

    def cents(df):
        return {r["cent_id"]: tuple(r["c_vec"]) for r in df.collect()}

    write(40, 0.0)
    first_df = ivf_centroids(spark, d)
    first = cents(first_df)
    # memo hit must return the SAME DataFrame object — value equality
    # alone is vacuous here, since retraining on unchanged data yields
    # identical centroids anyway (review r8)
    assert ivf_centroids(spark, d) is first_df

    tables.invalidate(d)
    again_df = ivf_centroids(spark, d)
    assert again_df is not first_df, "invalidate did not drop the quantizer"
    assert cents(again_df) == first, "retrain on unchanged data changed values"

    write(40, 5.0)  # rewrite in place with different vectors
    tables.invalidate(d)
    retrained = cents(ivf_centroids(spark, d))
    assert retrained != first, "quantizer served stale centroids after invalidate"


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),  # which base vector
            st.integers(min_value=1, max_value=6),  # how many copies
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=-40, max_value=40),  # vec_id offset (sign mix)
)
def test_quantizer_engine_parity_fuzz(spark, tmp_path_factory, groups, id_offset):
    """Property: on ANY duplicate pattern (random copy counts over a
    small base set, ids possibly negative), the Spark quantizer and its
    DuckDB CTE twin select the identical (cent_id, vector) set, and the
    centroid count is min(16, n_distinct) — generalizes the single
    planted degenerate-head regression test."""
    import os

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark.llm.similarity import (
        IVF_CENTS_SQL,
        N_IVF_CENTROIDS,
        ivf_centroids,
    )

    rng = np.random.default_rng(13)
    base = rng.normal(size=(8, 64)).astype(np.float32)
    mat = np.vstack([np.tile(base[b], (n, 1)) for b, n in groups])
    n_distinct = len({b for b, _ in groups})
    d = str(tmp_path_factory.mktemp("quantizer_fuzz"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(
                    range(id_offset, id_offset + len(mat)), pa.int64()
                ),
                "embedding": pa.array(
                    [list(r) for r in mat], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(mat), pa.int64()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )

    cents = ivf_centroids(spark, d).collect()
    assert len(cents) == min(N_IVF_CENTROIDS, n_distinct)
    assert len({tuple(r["c_vec"]) for r in cents}) == len(cents)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    oracle = {
        int(r[0]): tuple(round(float(x), 5) for x in r[1])
        for r in con.execute(
            f"WITH {IVF_CENTS_SQL} SELECT cent_id, c_vec FROM cents"
        ).fetchall()
    }
    ours = {
        int(r["cent_id"]): tuple(round(float(x), 5) for x in r["c_vec"])
        for r in cents
    }
    assert oracle == ours
