"""Physical-plan assertions (SURVEY §4): the optimizations the 100 TB
design relies on must actually appear in the executed plan — pushdown,
pruning, broadcast, two-phase aggregation, whole-stage codegen."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_pruning(spark):
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["scan_projection_pushdown"](spark, SF_SMOKE))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, "column pruning lost"


def test_predicate_pushdown(spark):
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["scan_predicate_pushdown"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed, f"filter not pushed: {pushed}"


def test_broadcast_dimension_join(spark):
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["join_inner_equi"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "dimension join must broadcast"


def test_two_phase_aggregation(spark):
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["agg_hash_grouped"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2, "expected partial+final agg"
    assert "partial" in plan.lower()


def test_whole_stage_codegen(spark):
    from flink_large_window_spark.registry import REGISTRY

    df = REGISTRY["agg_hash_grouped"](spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    # codegen stages appear as "*(n) Operator" markers in the plan string
    assert "*(1)" in plan and "*(2)" in plan, "expected ≥2 codegen spans"


def test_topk_is_take_ordered(spark):
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["limit_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_no_unbounded_cartesian_anywhere(spark):
    """Suite-wide plan lint: no non-broadcast cartesian product may
    appear in any batch query — at 100 TB that plan shape is fatal.
    (BroadcastNestedLoopJoin with a tiny broadcast side is the sanctioned
    form for the deliberate small cross joins.)"""
    from flink_large_window_spark.registry import ORACLES, REGISTRY

    offenders = []
    for key in sorted(ORACLES):  # SQL-oracle keys = the batch surface
        df = REGISTRY[key](spark, SF_SMOKE)
        plan = _plan(df)
        if "CartesianProduct" in plan:
            offenders.append(key)
    assert not offenders, f"cartesian product in: {offenders}"


def test_no_row_at_a_time_python_udf(spark):
    """Python must only appear Arrow-batched (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas) — never BatchEvalPython
    (row-at-a-time pickling)."""
    from flink_large_window_spark.registry import REGISTRY

    for key in ("udf_scalar_pandas", "udaf_grouped_agg", "multimodal_blob_features"):
        plan = _plan(REGISTRY[key](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, f"{key} uses row-at-a-time Python"


def test_sliding_prebucket_matches_native(spark):
    """The pane/slice rollup fans out pre-aggregated buckets
    (Generate/explode, no Expand of raw rows) and produces exactly the
    native sliding window's result."""
    from flink_large_window_spark.streaming.windows import (
        US_15MIN,
        US_HOUR,
        pane_slice_user_counts,
        sliding_agg,
    )
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    prebucket = pane_slice_user_counts(ev, US_HOUR, US_15MIN)
    p_pre = _plan(prebucket)
    assert "Generate" in p_pre and "Expand" not in p_pre

    # ratio-4 rollup == native ratio-4 window
    native = sliding_agg(ev)
    assert prebucket.exceptAll(native).count() == 0
    assert native.exceptAll(prebucket).count() == 0


def test_sliding_prebucket_parity_other_ratios(spark):
    """The pane/slice rollup must equal the native plan for any exact
    ratio, not just the 1h/15m contract shape — checked on a synthetic
    dense frame at ratios 4, 6, and 8."""
    import datetime as dt

    from flink_large_window_spark.streaming.windows import (
        pane_slice_user_counts,
    )

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (u, t0 + dt.timedelta(seconds=137 * i + u * 61))
        for u in range(4)
        for i in range(200)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    minute = 60 * 1_000_000
    for size_min, slide_min in ((60, 15), (90, 15), (40, 5)):
        size_us, slide_us = size_min * minute, slide_min * minute
        pre = pane_slice_user_counts(ev, size_us, slide_us)
        nat = (
            ev.groupBy(
                F.window(
                    "ts",
                    f"{size_us} microseconds",
                    f"{slide_us} microseconds",
                ).alias("w"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("string").alias("w_start"),
                "user_id",
                "n",
            )
        )
        assert "Generate" in _plan(pre), (size_min, slide_min)
        assert pre.exceptAll(nat).count() == 0, (size_min, slide_min)
        assert nat.exceptAll(pre).count() == 0, (size_min, slide_min)


def test_tfidf_single_full_scan(spark):
    """Round-5 fix: tf-idf derives df and N from the tf aggregate plus
    footer stats — the plan must hold exactly TWO documents scans (the
    full tokenize pass and the row-group-pruned doc_id<20 branch, which
    must carry a pushed filter), not the round-4 three."""
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["text_tfidf_topterms"](spark, SF_SMOKE))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 documents scans, saw {n_scans}"
    pushed = [
        seg.splitlines()[0]
        for seg in plan.split("PushedFilters:")[1:]
    ]
    assert any("doc_id" in p and "LessThan" in p for p in pushed), (
        f"doc_id<20 not pushed to the pruned branch: {pushed}"
    )


def test_pattern_times_single_exchange(spark):
    """The times(n) quantifier is a row-local lag-frame predicate: one
    shuffle on user_id and nothing else."""
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["pattern_detect_times"](spark, SF_SMOKE))
    n_exchange = plan.count("Exchange")
    assert n_exchange == 1, f"expected a single user_id shuffle, saw {n_exchange}"
    assert "hashpartitioning(user_id" in plan


def test_dedup_embed_cosine_uses_cache_not_rescan(spark):
    """The packed-block frame feeds BOTH crossJoin sides from ONE cache
    entry (CacheManager canonical-plan dedupe) — the executed plan must
    read the cache twice and scan the embeddings parquet zero times."""
    from flink_large_window_spark.registry import REGISTRY

    df = REGISTRY["dedup_embed_cosine"](spark, SF_SMOKE)
    df.collect()  # materialize the persisted packed form + finalize AQE
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2, "crossJoin sides not cache-fed"


def test_cluster_cc_iteration_runs_at_tuned_width(spark):
    """The label-propagation loop must actually run its iteration
    shuffles at the label-frame width, not the session default. Round
    5's tuning was a silent no-op: the conf was set BEFORE the loop's
    table() call, whose prep() resets shuffle partitions to 32 (ADVICE
    r5). The loop now snapshots the live conf right before its first
    iteration action; at smoke scale the sizing formula gives the
    4-partition floor. The session default must also be restored after
    the query returns."""
    import flink_large_window_spark.llm.dedup as dedup_mod
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import prep

    prep(spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    dedup_mod._LAST_ITER_PARTS = None
    REGISTRY["dedup_cluster_cc"](spark, SF_SMOKE).collect()
    assert dedup_mod._LAST_ITER_PARTS == 4, (
        f"iteration observed {dedup_mod._LAST_ITER_PARTS} shuffle "
        "partitions — prep() reset the tuned width again"
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_embed_cosine_pairs_are_unordered_half(spark):
    """Optimization r15: the blocked-GEMM pair join enumerates only
    UNORDERED block pairs — the block <= block_b predicate must sit in
    the join itself (so the B²/2 dropped pairs are never emitted into
    the Python stage), and the score kernel emits both sides' partials
    from the one product. Verified end-to-end by the oracle; this pin
    catches a refactor that silently reverts to the ordered-B² form."""
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["dedup_embed_cosine"](spark, SF_SMOKE))
    assert "<= block_b" in plan, (
        "pair join no longer restricted to unordered block pairs"
    )


def test_ckpt_hash_partitioned_preserves_layout(spark):
    """Optimization r15: ckpt_hash_partitioned must yield a LogicalRDD
    that still reports the hash partitioning (a plain localCheckpoint
    under AQE reports UnknownPartitioning — the co-partitioned
    cluster_cc loop depends on the preserved layout)."""
    from flink_large_window_spark.llm.dedup import ckpt_hash_partitioned
    from flink_large_window_spark.tables import prep, table

    prep(spark)
    df = table(spark, SF_SMOKE, "documents").select("doc_id").repartition(
        4, "doc_id"
    )
    kept = ckpt_hash_partitioned(spark, df)
    part = (
        kept._jdf.queryExecution().executedPlan().outputPartitioning().toString()
    )
    assert "hashpartitioning(doc_id" in part, part
    # and AQE must be back on afterwards
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_q11_single_derive_execution(spark):
    """Optimization r15: q11's per-part aggregate is materialized once
    (localCheckpoint) — the declared query's recurring plan must read
    the RDD, not re-derive partsupp (the before-plan had 10 parquet
    scans from WITH macro-expansion)."""
    from flink_large_window_spark.registry import REGISTRY

    plan = _plan(REGISTRY["q11_important_stock"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 0, (
        "q11's recurring plan re-derives partsupp instead of reading "
        "the checkpointed aggregate"
    )
    assert "Scan ExistingRDD" in plan


def test_llm_queries_release_their_caches(spark):
    """langid / minhash / simhash-hamming / kmeans persist fat
    intermediates; each must consume them eagerly and unpersist before
    returning, or corpus-sized cache entries accumulate for the life of
    a 195-key suite session (ADVICE r5). dedup_embed_cosine's packed
    frame is the one documented exception (lazily cache-fed crossJoin,
    see test_dedup_embed_cosine_uses_cache_not_rescan)."""
    from flink_large_window_spark.registry import REGISTRY

    spark.catalog.clearCache()
    for key in (
        "text_langid_ngram",
        "dedup_near_minhash",
        "dedup_simhash_hamming",
        "emb_kmeans_assign",
    ):
        REGISTRY[key](spark, SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "an llm query left a CacheManager entry behind after collect"
    )


def test_minhash_all_jvm_no_cache_no_inferred_filter_pushdown(spark):
    """Round-6b redesign: dedup_near_minhash is ALL-JVM — zero Python
    nodes (the mapInPandas signature scan made bench cost
    non-deterministic: cold runs fork a fleet of Python workers whose
    imports dwarf the hashing), no cache/checkpoint state behind (the
    pre-r6 persist+localCheckpoint design degraded back-to-back runs
    via lingering RDD blocks), and — load-bearing — NO md5 evaluation
    below the repartition exchange: a plain explode triggers
    InferFiltersFromGenerate, whose size(hs)>0 filter inlines the
    whole shingle+md5 chain and is pushed into the single-task parquet
    scan (measured ~5 s of a 5.5 s run). The query uses explode_outer
    to keep the rule off; this test fails if anyone reverts that."""
    from flink_large_window_spark.registry import REGISTRY

    spark.catalog.clearCache()
    df = REGISTRY["dedup_near_minhash"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "MapInPandas" not in plan, "minhash must be all-JVM now"
    # The inferred-filter signature: a Filter node whose condition
    # re-evaluates the md5 chain. Must not exist anywhere in the plan
    # (when it does, predicate pushdown parks it on the single-task
    # scan below the repartition). Tree-format plans render each node
    # on one line ('+- Filter (size(array_distinct(... md5 ...') so a
    # line scan is the reliable detector; a prior regex split on
    # '\\n(N) ' never matched this format and the guard was vacuous.
    bad = [
        ln.strip()[:120]
        for ln in plan.splitlines()
        if "Filter" in ln and "md5" in ln
    ]
    assert not bad, (
        "InferFiltersFromGenerate pushed an md5 filter into the scan — "
        f"use explode_outer in the signature path: {bad}"
    )
    df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "dedup_near_minhash left a CacheManager entry behind"
    )
    # Round-7 hazard (SCALING.md §12): /*+ REPARTITION */ attaches
    # ABOVE the query block it annotates, so a hint on the wrong CTE
    # SELECT parks the whole shingle+md5 projection BELOW the exchange
    # on the single-task scan — the exact pathology the spread exists
    # to prevent. In explain's tree format a parent prints before its
    # child, so the md5 Project must appear on an EARLIER line than
    # the RoundRobin exchange it consumes.
    lines = plan.splitlines()
    md5_ln = next(
        (i for i, ln in enumerate(lines) if "Project" in ln and "md5" in ln),
        None,
    )
    # the shingle construction must ALSO sit above the exchange — the
    # first round-7 form hinted the shingled SELECT, which parked
    # split+concat_ws single-task below it while md5 stayed above
    # (caught by the round-7 review; the hint now lives on a bare
    # (doc_id, text) base CTE)
    shingle_ln = next(
        (i for i, ln in enumerate(lines) if "concat_ws" in ln), None
    )
    rr_ln = next(
        (i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln),
        None,
    )
    assert md5_ln is not None and shingle_ln is not None and rr_ln is not None, (
        "plan lost its md5/shingle projection or its repartition exchange"
    )
    assert md5_ln < rr_ln and shingle_ln < rr_ln, (
        "signature/shingle work planned BELOW the repartition exchange "
        "— the REPARTITION hint moved off the bare base-CTE SELECT"
    )


def test_ivf_centroids_broadcast_is_jvm_local(spark):
    """The memoized trained quantizer must materialize as a JVM
    LocalTableScan: the plain-tuple createDataFrame alternative
    compiles to a Python-backed `Scan ExistingRDD` that forks a Python
    worker on EVERY downstream execution (~0.2 s/run — measured,
    round 8). Pins both the memo's own plan and its shape inside a
    consuming query's broadcast subtree."""
    from flink_large_window_spark.llm.similarity import ivf_centroids
    from flink_large_window_spark.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    cents_plan = (
        ivf_centroids(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    )
    assert "LocalTableScan" in cents_plan, cents_plan
    assert "ExistingRDD" not in cents_plan, cents_plan

    q_plan = (
        REGISTRY["sim_ann_ivf_topk"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in q_plan, "centroid side lost its local relation"
    assert "ExistingRDD" not in q_plan, (
        "Python-backed centroid scan leaked into the query plan"
    )


def test_bucketed_join_memo_serves_without_rewrite(spark):
    """The bucketed materialization is written once per session+dir
    (r9: bucketing is ingest-time layout); repeat calls must serve the
    SAME catalog-backed DataFrames, tables.invalidate must evict, and
    the rebuilt result must be value-identical."""
    from flink_large_window_spark import tables
    from flink_large_window_spark.plans import bucketing

    tables.invalidate(SF_SMOKE)  # isolate from other tests' memo state
    first = sorted(
        map(tuple, bucketing.join_bucketed_noshuffle(spark, SF_SMOKE).collect())
    )
    pair = bucketing._bucketed_pair(spark, SF_SMOKE)
    tag = tables.dir_tag(SF_SMOKE)
    names = {
        t.name for t in spark.catalog.listTables()
        if "_bkt_" in t.name and t.name.endswith(tag)
    }
    assert names == {f"flws_orders_bkt_{tag}", f"flws_lineitem_bkt_{tag}"}, (
        "memo should hold exactly this dir's pair"
    )
    bucketing.join_bucketed_noshuffle(spark, SF_SMOKE)
    assert bucketing._bucketed_pair(spark, SF_SMOKE) is pair, (
        "repeat call re-materialized"
    )

    tables.invalidate(SF_SMOKE)
    again = sorted(
        map(tuple, bucketing.join_bucketed_noshuffle(spark, SF_SMOKE).collect())
    )
    assert bucketing._bucketed_pair(spark, SF_SMOKE) is not pair, (
        "invalidate did not evict this dir's pair"
    )
    assert again == first, "rebuilt bucketed join changed values"


def test_compiled_cep_plans_are_join_free(spark):
    """The round-10 CEP compiler's plan guarantees (SCALING.md
    'Round-10: generic CEP compiler battery'): the greedy strategy
    replaces the hand-written oneormore (user_id, rn) equi-join with a
    lag over the runs relation — 0 joins in the executed plan — and
    the suffix strategy stays the single-window lag conjunction
    pattern_detect_cep always shipped (1 Window, no join, no extra
    exchange beyond the user_id shuffle)."""
    from flink_large_window_spark.registry import REGISTRY

    greedy = _plan(REGISTRY["pattern_detect_oneormore"](spark, SF_SMOKE))
    assert "Join" not in greedy
    recognize = _plan(REGISTRY["pattern_match_recognize"](spark, SF_SMOKE))
    assert "Join" not in recognize
    # map-side partial aggregation for the runs relation
    assert recognize.count("HashAggregate") >= 2

    suffix = _plan(REGISTRY["pattern_detect_cep"](spark, SF_SMOKE))
    assert "Join" not in suffix
    assert suffix.count("Window") == 1


def test_runclose_batch_plans_are_join_free(spark):
    """The round-14 batch shapes keep the compiled-CEP plan
    guarantees: final-step exactness and the non-'first' final guard
    are single row-local conjuncts over the SAME runs relation — no
    join appears, no exchange is added (the runs aggregation plus its
    runs-level lag window is the whole plan, exactly like the
    unguarded greedy keys)."""
    from flink_large_window_spark.registry import REGISTRY

    exact = _plan(REGISTRY["pattern_detect_times_exact"](spark, SF_SMOKE))
    assert "Join" not in exact
    assert exact.count("HashAggregate") >= 2  # map-side runs partial

    guard = _plan(REGISTRY["pattern_match_finalguard"](spark, SF_SMOKE))
    assert "Join" not in guard
    assert guard.count("HashAggregate") >= 2
