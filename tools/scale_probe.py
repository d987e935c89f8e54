"""Result-correctness probes beyond fixture scale (SCALING.md §13).

Replicates one fixture axis K× along the dimension that stresses a
family, then runs the driver-style Spark-vs-DuckDB value comparison on
the replicated dir:

    python tools/scale_probe.py --family tpch --k 10
    python tools/scale_probe.py --family tpch --k 100 --keys q9_product_profit
    python tools/scale_probe.py --family window --k 10
    python tools/scale_probe.py --family text --k 10
    python tools/scale_probe.py --family similarity --k 10

Replication protocols (each preserves cross-engine comparability):
- tpch: orders o_orderkey·K+k remap; lineitem rows duplicated with
  matching l_orderkey; dims unchanged → K× the fact volume.
- window: events user_id·K+k and event_id·K+k remaps, ts unchanged →
  K× the KEY CARDINALITY (state per key), identical temporal patterns.
- text: documents doc_id·K+k, same text → duplicate-heavy corpus
  (every doc gains K exact copies) — adversarial for the dedup family.
- similarity: embeddings vec_id·K+k, same vectors → duplicate-heavy,
  the shape the distinct-vector IVF quantizer hardens against.

The shuffle width comes from $SPARK_GRAFT_SHUFFLE_PARTITIONS (32 when
unset): tables.prep() sets it, and every table() read calls prep().

Gotchas baked in (learned the hard way, round 8):
- prep() runs BEFORE the source read, else events.ts is written as
  TIMESTAMP_NTZ into the copy and timestamp keys break downstream.
- DuckDB gets a bounded temp_directory + memory_limit; an oracle that
  still exhausts it (dedup_near_minhash's doc×shingle×64 unpivot at
  ≥4×) is an ORACLE-side limit to record, not an engine divergence.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from flink_large_window_spark.tables import TABLE_NAMES as ALL_TABLES

FAMILIES = {
    "tpch": {
        "replicated": ("orders", "lineitem"),
        "keys": lambda REG: sorted(
            k for k in REG if k.startswith("q") and k[1].isdigit()
        ),
    },
    "window": {
        "replicated": ("events",),
        "keys": lambda REG: [
            "window_tumbling_agg", "window_sliding_agg", "window_session_agg",
            "window_large_day", "window_early_fire", "watermark_dedup",
            "late_data_split", "stateful_count_session", "window_topn",
            "window_cascading_rollup", "window_session_dynamic_gap",
            "window_sliding_agg_prebucket", "window_count_tumbling",
            "window_count_sliding", "window_tumbling_offset",
            "winfn_row_number_topk", "winfn_running_sum",
            "winfn_moving_avg_range", "ts_anomaly_zscore", "ts_ewma_daily",
            "ts_ohlc_bars", "ts_resample_gapfill", "ts_funnel_conversion",
            "ts_retention_cohort", "pivot_event_counts",
            "pattern_detect_followedby", "pattern_detect_cep",
            # round 10: the remaining CEP keys, all compiled through
            # the generic quantifier compiler (operators/cep.py) —
            # same events replication, linear per-user run structure
            "pattern_detect_notfollowedby", "pattern_detect_times",
            "pattern_detect_oneormore", "pattern_match_recognize",
            # round 11: alternation under an unbounded quantifier —
            # the set-class canonical map is a row-local expression,
            # same one-shuffle runs-relation plan
            "pattern_match_alternation",
            # round 12: the CEP extension wave — iterative-condition
            # guard (per-run value aggregates ride the same runs
            # relation), optional-step variant expansion (union over
            # one shared runs subtree), and after-match skip
            # strategies (row-local explode over matched anchors);
            # plus exact-substring dedup's cousin on events is N/A —
            # dedup_substring probes through the text family
            "pattern_detect_value_guard", "pattern_match_optional",
            "pattern_match_afterskip",
            # round 13: guard composition showcases (per-variant guard
            # remapping / guard-gated skip expansion), followedByAny
            # (equi-join pairs — output complexity IS the match set),
            # and the timed-out-partials side output (two chained
            # min-over-struct window passes, no join)
            "pattern_match_optional_guard", "pattern_match_skipguard",
            "pattern_detect_followedbyany", "pattern_timeout_partial",
            "pattern_match_optional_skip",
            "pattern_detect_followedby_nobetween",
            # round 14: final-step exactness (anchor-run cap) and the
            # non-'first' final guard — one more row-local conjunct
            # each on the shared runs relation
            "pattern_detect_times_exact", "pattern_match_finalguard",
            # round 15: the oneOrMore().until() stop condition — a
            # row-local relabel projection ahead of the same
            # one-shuffle runs-relation plan — and the nested-group
            # fixed repetition (repeat_group expansion → the plain
            # suffix conjunction)
            "pattern_detect_until",
            "pattern_detect_group_times",
        ],
    },
    "text": {
        "replicated": ("documents",),
        "keys": lambda REG: [
            "dedup_exact", "dedup_near_minhash", "dedup_simhash",
            "dedup_simhash_hamming", "text_tokenize_wordcount", "text_ngrams",
            "text_tfidf_topterms", "text_lang_stats", "text_quality_score",
            "text_token_count_bpe", "text_fingerprint_rolling",
            "text_langid_ngram", "corpus_contamination_check",
            "corpus_mix_rebalance", "corpus_pack_chunks",
            "multimodal_doc_join", "llm_corpus_pipeline",
            # round 12: paragraph-granularity duplicated-span
            # detection and the Gopher repetition signals — both
            # explode-then-aggregate, linear in corpus tokens
            "dedup_substring", "text_repetition_stats",
        ],
    },
    "similarity": {
        "replicated": ("embeddings",),
        "keys": lambda REG: [
            "sim_cosine_topk", "sim_knn_join_label", "sim_ann_ivf_topk",
            "sim_ann_ivf_multiprobe", "dedup_embed_cosine_ivf",
            "emb_kmeans_assign", "multimodal_vec_stats",
            "multimodal_embed_quantize",
        ],
    },
    # Event-time joins (asof / interval / windowed): same events
    # replication as the window family — K× user cardinality with
    # identical per-user temporal patterns, so per-key join state is
    # constant and output grows exactly linearly. The orders-side join
    # keys (join_theta_range, join_skew_salted — equi+range residual
    # and salted hot-key) are probed through the tpch replication
    # instead: `--family tpch --keys join_theta_range join_skew_salted`
    # (orders duplicated K× against FIXED dims amplifies every
    # customer key's fan-in K× — the skew shape salting exists for).
    "joins": {
        "replicated": ("events",),
        "keys": lambda REG: [
            "join_interval", "join_interval_banded", "join_asof",
            "join_asof_forward", "join_asof_nearest",
            "join_asof_tolerance", "join_window_tumbling",
        ],
    },
    # The engine's identity: REAL Structured Streaming twins (bounded
    # replay through micro-batch execution with RocksDB-backed state),
    # not their batch shadows — at K× key cardinality the per-key
    # window/session/join state multiplies while per-key temporal
    # patterns stay fixed, which is precisely the "large window state"
    # axis. Same events replication as window/joins.
    "streaming": {
        "replicated": ("events",),
        "keys": lambda REG: [
            "window_tumbling_agg_stream", "window_sliding_agg_stream",
            "window_session_agg_stream", "window_early_fire_stream",
            "watermark_dedup_stream", "stateful_count_session_stream",
            "stateful_session_timeout_stream", "join_interval_stream",
            "join_window_tumbling_stream", "stream_stream_left_outer",
            "stream_stream_full_outer", "stream_static_enrich",
            "stream_foreachbatch_upsert",
            "stream_checkpoint_restart", "stream_rule_update_enrich",
            "stream_watermark_skew", "stream_allowed_lateness_reemit",
            # round 10: the streaming CEP twin (incremental automaton,
            # array-state pending buffer + event-time timer emission)
            "pattern_match_recognize_stream",
            # round 12: the compiled-automaton extensions — the
            # alternation stream twin, the guarded stream twin (value
            # aggregates in run-window state), and the state-TTL
            # eviction accounting machine
            "pattern_match_alternation_stream",
            "pattern_detect_value_guard_stream",
            "pattern_match_optional_stream",
            "pattern_match_afterskip_stream",
            "stateful_session_ttl_stream",
            # late round 12: streaming negation (pending-state absence
            # automaton) and the WindowRank-style window Top-N
            "pattern_detect_notfollowedby_stream",
            "window_topn_stream",
            "window_count_tumbling_stream",
            "window_session_dynamic_gap_stream",
            "join_asof_stream",
            "window_tumbling_offset_stream",
            "window_cascading_rollup_stream",
            "pattern_detect_followedby_stream",
            "ts_ohlc_bars_stream",
            "pattern_detect_oneormore_stream",
            "pattern_detect_times_stream",
            # round 13: the guard-composition twins, the followedByAny
            # pairs automaton, the timed-out-partials pending machine,
            # and the CountEvictor-ring sliding count window
            "pattern_match_optional_guard_stream",
            "pattern_match_skipguard_stream",
            "pattern_detect_followedbyany_stream",
            "pattern_timeout_partial_stream",
            "window_count_sliding_stream",
            "pattern_match_optional_skip_stream",
            "pattern_detect_followedby_nobetween_stream",
            # round 14: the run-CLOSE emission twins (final-step
            # exact / non-'first' final guard) and the composite
            # windowed-state reader
            "pattern_detect_times_exact_stream",
            "pattern_match_finalguard_stream",
            "stream_state_reader_window",
            "stream_state_reader",
            # round 15: the until stop-condition twin (relabel ahead
            # of the unchanged run-fold machine) and the automaton-
            # state reader (offline statestore decode of the compiled
            # machine's blob)
            "pattern_detect_until_stream",
            "stream_state_reader_automaton",
            "pattern_detect_group_times_stream",
            "stream_state_reader_session",
        ],
    },
}


def _replicate_events_arrow(src: str, d: str, k: int) -> None:
    """events replica in the EXACT fixture layout: one pyarrow-written
    file, schema preserved (timestamp[us], isAdjustedToUTC as shipped).
    The streaming replay machinery depends on that layout — the file
    source narrows to the literal file name with pathGlobFilter (a
    Spark-written DIRECTORY matches zero part files → every stream
    reads 0 rows), and the two-source keys re-read via pyarrow and
    re-write scratch chunks with the source's own type annotations.
    Copy i of row r gets id·k+i, identical to the Spark remap below.
    The *_checked compute kernels are deliberate: bare pc.add/multiply
    WRAP silently (review r9, verified: pc.multiply([2**62], 100) → 0
    with no error on the installed pyarrow), which would corrupt the
    replica's key cardinality and still report MATCH — the Spark remap
    this replaced raised under ANSI, and the checked kernels restore
    that property.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(src, "events.parquet"))
    parts = []
    base = {}  # loop-invariant id·k per column, computed once
    for c in ("event_id", "user_id"):
        typ = tbl.schema.field(tbl.schema.get_field_index(c)).type
        base[c] = pc.multiply_checked(tbl[c], pa.scalar(k, type=typ))
    for i in range(k):
        t = tbl
        for c in ("event_id", "user_id"):
            idx = t.schema.get_field_index(c)
            typ = t.schema.field(idx).type
            col = pc.add_checked(base[c], pa.scalar(i, type=typ))
            t = t.set_column(idx, c, col)
        parts.append(t)
    pq.write_table(
        pa.concat_tables(parts), os.path.join(d, "events.parquet")
    )


def replicate(spark, F, table, src: str, family: str, k: int) -> str:
    d = tempfile.mkdtemp(prefix=f"probe_{family}_{k}x_")
    try:
        return _replicate_into(spark, F, table, src, family, k, d)
    except BaseException:
        # main()'s try/finally takes ownership of d only after we
        # return; a failure mid-build (the dispatch guard below, a
        # partial multi-GB events write at --k 100) must not leak the
        # half-built replica (review r9) — the tool's own hygiene rule.
        shutil.rmtree(d, ignore_errors=True)
        raise


def _replicate_into(
    spark, F, table, src: str, family: str, k: int, d: str
) -> str:
    spec = FAMILIES[family]
    for t in ALL_TABLES:
        if t in spec["replicated"]:
            continue
        shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
    kr = spark.range(k).select(F.col("id").alias("k"))

    def remap(name: str, id_cols: tuple[str, ...]):
        from flink_large_window_spark.tables import row_count

        df = table(spark, src, name)
        out = df.crossJoin(kr).select(
            *[
                (F.col(c) * k + F.col("k")).alias(c) if c in id_cols else F.col(c)
                for c in df.columns
            ]
        )
        # Repartition BEFORE writing: a 1-partition source crossJoined
        # with a broadcast range writes ONE file with ONE row group,
        # and a row group is parquet's parallelism floor — every
        # scan-bound stage on such a replica runs in a single task
        # (caught live in r9: the 5 M-doc text replica ran the minhash
        # kernel 37× slower than linear, one core busy of 32). A real
        # corpus at this size ships as many row groups; the replica
        # must too, or the probe measures the layout, not the engine.
        width = max(16, min(256, (row_count(src, name) * k) // 100_000))
        out.repartition(width).write.parquet(os.path.join(d, f"{name}.parquet"))

    if family == "tpch":
        remap("orders", ("o_orderkey",))
        remap("lineitem", ("l_orderkey",))
    elif family in ("window", "joins", "streaming"):
        _replicate_events_arrow(src, d, k)
    elif family == "text":
        remap("documents", ("doc_id",))
    elif family == "similarity":
        remap("embeddings", ("vec_id",))
    # FAMILIES and this dispatch can drift (round 9: the new
    # `streaming` family skipped the copy loop via spec["replicated"]
    # but the elif chain never wrote its replica) — fail here, not at
    # the oracle's read_parquet.
    missing = [
        t
        for t in spec["replicated"]
        if not os.path.exists(os.path.join(d, f"{t}.parquet"))
    ]
    if missing:
        raise SystemExit(
            f"replicate() wrote no replica for {missing} — family "
            f"{family!r} is declared in FAMILIES but not handled above"
        )
    return d


# Known, theoretically-derived cross-engine divergences that a scale
# probe must report as EXPECTED rather than as a regression (VERDICT r8
# item 3). Keyed by probe key; fires only at or above min_k. The only
# member is the ROUND(SUM(double), d) order-sensitivity wall: at 100×
# key cardinality window_cascading_rollup's month panes sum ~2 M
# doubles to ~1e8 under ROUND(·, 4) — 12 significant digits, where the
# engines' summation-order walk reaches the rounding quantum (measured
# 99,849,750 vs 99,849,749.9999). Demonstrated deterministically by
# tests/test_float_boundary.py; boundary law + mitigation policy
# (integer-scaled sums) in SCALING.md §13. Green at contract scale and
# 10× — the wall needs total_magnitude × 10^d ≈ 10^12.
EXPECTED_DIVERGENCE: dict[str, dict] = {
    "window_cascading_rollup": {
        "min_k": 100,
        "reason": (
            "ROUND(SUM(double)) order-sensitivity wall at ~1e12 "
            "magnitude·precision — tests/test_float_boundary.py, "
            "SCALING.md §13"
        ),
    },
}


def xdiv_confined(cols, ocols, srows, orows) -> bool:
    """True iff a divergence has exactly the documented ROUND-wall
    shape: identical columns, identical row counts, and every
    differing cell a float pair within one rounding quantum
    (relative 1e-9 — the wall flips the last retained digit of a
    12-significant-digit sum, i.e. ~1e-12 relative; 1e-9 leaves
    margin without admitting real errors). Anything else — schema
    drift, row-count drift, non-numeric or materially different
    values — is a REGRESSION and must not be excused as the wall
    (review r9: the bare `not ok and expected` test excused
    arbitrary failures)."""
    if cols != ocols or len(srows) != len(orows):
        return False
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            if x == y:
                continue
            try:
                fx, fy = float(x), float(y)
            except (TypeError, ValueError):
                return False
            if not abs(fx - fy) <= max(abs(fx), abs(fy), 1.0) * 1e-9:
                return False
    return True


def canon(v) -> str:
    if v is None:
        return "nan"
    s = str(v)
    if s in ("None", "NaT", "<NA>", "nan"):
        return "nan"
    # Pure integers compare VERBATIM — never through float (review r8:
    # float64 carries ~15.95 significant digits, so 62-bit simhash
    # signatures differing in the low ~10 bits would canonicalize
    # identically and a real engine divergence would read as MATCH).
    if s.lstrip("-").isdigit():
        return s
    try:
        f = float(s)
        if f != f:
            return "nan"
        if f in (float("inf"), float("-inf")):
            return s  # comparable verbatim; int(f) would overflow
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return repr(round(f, 6))
    except (ValueError, TypeError):
        return s


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", required=True, choices=sorted(FAMILIES))
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", nargs="*", help="subset of the family's keys")
    ap.add_argument(
        "--engine-only", action="store_true",
        help="run only the Spark side (rows + wall time, no DuckDB "
        "compare) — for complexity-class evidence at scales where the "
        "quadratic/pairwise ORACLE is the budget wall, not the engine "
        "(round 8: the minhash ×64 expansion, the hamming O(n²) "
        "pairwise form). Row counts and timings are still results; "
        "value equality at these scales is attested by the largest "
        "k the oracle could follow.",
    )
    args = ap.parse_args()

    import duckdb
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.driver.memory", "48g")
        # The streaming twins drain into a MEMORY sink (driver-
        # resident by design — the bounded-replay harness, not the
        # dataflow): a 38 M-row sliding output trips the 1 GiB
        # maxResultSize default. Probe-session-only; a production
        # sink (parquet/Kafka) is distributed and never collects.
        .config("spark.driver.maxResultSize", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import flink_large_window_spark.api as api
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import prep, table

    prep(spark)  # BEFORE any source read — see module docstring
    d = replicate(spark, F, table, args.sf, args.family, args.k)
    print(f"replicated {args.family} x{args.k} at {d}", flush=True)

    tmp = tempfile.mkdtemp(prefix="probe_duck_tmp_")
    try:  # scratch (a --k 100 replica is multi-GB) must not outlive a crash
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{tmp}'; SET memory_limit='40GB';")
        for t in ALL_TABLES:
            p = os.path.join(d, f"{t}.parquet")
            pat = p + "/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

        oracles = api.oracle_sql()
        keys = args.keys or FAMILIES[args.family]["keys"](REGISTRY)
        unknown = [k for k in keys if k not in REGISTRY]
        if unknown:  # a typo must not read as a skipped-but-covered key
            raise SystemExit(f"keys not in the registry: {unknown}")
        n_ok = n_run = n_xdiv = 0
        for key in keys:
            if key not in oracles:
                print(f"[SKIP ] {key} (rows-only)", flush=True)
                continue
            n_run += 1
            t0 = time.time()
            try:
                sdf = REGISTRY[key](spark, d)
                if args.engine_only:
                    # NOT sdf.count(): a bare count lets Catalyst prune
                    # every unused column, so a pure-SQL pipeline's
                    # expensive expressions (64 minhash permutations,
                    # popcount chains) are optimized away and the
                    # "engine ran at scale" claim is hollow (measured:
                    # dedup_near_minhash "ran" in 3.9 s pruned at
                    # 500 k docs — faster than the honest 44.7 s at
                    # 50 k). A digest over EVERY output column
                    # forces full evaluation while keeping the result
                    # a single driver-side row.
                    # bit_xor, not sum: summing 500 k signed xxhash64
                    # values overflows int64 and ANSI mode makes that
                    # a query-killing error; XOR is closed over int64.
                    n, dig = sdf.agg(
                        F.count(F.lit(1)),
                        F.bit_xor(F.xxhash64(*[F.col(c) for c in sdf.columns])),
                    ).first()
                    n_ok += 1
                    print(
                        f"[RAN  ] {key}: {n} rows digest={dig}  "
                        f"{time.time() - t0:.1f}s (engine-only, all "
                        f"columns evaluated)",
                        flush=True,
                    )
                    continue
                cols = sorted(sdf.columns)
                srows = sorted(
                    tuple(canon(r[c]) for c in cols) for r in sdf.collect()
                )
                cur = con.execute(oracles[key])
                # fetchall(), NOT fetch_df(): pandas coerces a nullable
                # BIGINT column to float64, sending big ints (62-bit
                # simhash signatures) down canon()'s lossy float path
                # on the oracle side only — a guaranteed spurious
                # DIVERGE on exactly the columns the verbatim-integer
                # rule protects (ADVICE r8). fetchall preserves Python
                # ints and None.
                names = [c[0] for c in cur.description]
                perm = sorted(range(len(names)), key=lambda i: names[i])
                ocols = [names[i] for i in perm]
                orows = sorted(
                    tuple(canon(row[i]) for i in perm)
                    for row in cur.fetchall()
                )
                ok = cols == ocols and srows == orows
                expected = EXPECTED_DIVERGENCE.get(key)
                if (
                    not ok
                    and expected
                    and args.k >= expected["min_k"]
                    and xdiv_confined(cols, ocols, srows, orows)
                ):
                    n_xdiv += 1
                    n_ok += 1  # known wall (shape-verified), not a regression
                    print(
                        f"[XDIV ] {key}: expected divergence at "
                        f"k>={expected['min_k']}, confined to the rounding "
                        f"quantum ({expected['reason']})  "
                        f"{time.time() - t0:.1f}s",
                        flush=True,
                    )
                    continue
                print(
                    f"[{'MATCH' if ok else 'DIVERGE'}] {key}: "
                    f"{len(srows)}/{len(orows)} rows  {time.time() - t0:.1f}s",
                    flush=True,
                )
                if not ok and srows != orows:
                    print(
                        "   ",
                        [(a, b) for a, b in zip(srows, orows) if a != b][:2],
                    )
                n_ok += ok
            except Exception as e:  # oracle resource limits are results too
                print(
                    f"[ERROR] {key}: {type(e).__name__}: {str(e)[:140]}",
                    flush=True,
                )
        tail = f" ({n_xdiv} expected-divergent)" if n_xdiv else ""
        # engine-only performed NO value comparison — the verdict line
        # must not read as equality (review r9: "N/N match" in an
        # --engine-only log attests what the mode explicitly cannot).
        verb = "ran (engine-only, no value compare)" if args.engine_only \
            else "match"
        print(f"total: {n_ok}/{n_run} {verb}{tail}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
