"""Benchmark harness (SURVEY §6 / BASELINE.md M5 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]: two warm-ups (four for watch-list keys),
then median of 3 timed runs (5 for watch-list keys) of a noop-sink
write (full execution, no sink cost). Prints exactly ONE JSON line to
stdout:

  {"metric": "...", "value": <total median sec>, "unit": "sec",
   "queries": {key: sec, ...}, "sf": "<dir>"}

and writes BENCH_LAST.json with per-run detail + env, and per key the
classes compiled during the warm-ups and during the timed runs
(``codegen_compiles``; the timed runs should compile none). BENCH.json is
the FROZEN baseline (BASELINE.md) and is never rewritten here — later
rounds must stay within 2× of it per query. All entries are the
round-1 freeze except dedup_near_minhash and dedup_simhash, formally
re-frozen in round 7 (the round-1 numbers measured a retired
non-deterministic kernel's lucky mode on a faster VM — full record in
BASELINE.md "Round-7 RE-FREEZE"), and dedup_simhash_hamming,
re-frozen DOWNWARD in round 10 after the capped-bucket reshape cut
its clean median 1.93 → 1.10 s (a drift-reference key must read ~1.0
on a baseline-speed VM; BASELINE.md "Round-10 RE-FREEZE").

Known measurement hazards (round 6): (1) CacheManager substitutes
cached data by canonical plan, so a key that persists without
releasing makes its own later runs (and any plan-identical key)
artificially fast — the pre-r6 minhash number was this artifact; the
honest cold path is what this harness now measures. (2) Python-scan
keys interfere: running one mapInPandas-heavy key transiently slows
the next Python-scan key ~20-40% for a run or two (reused Python
workers / async cleanup), measured r6 on the then-Python minhash →
simhash pair — the reason both LSH kernels are all-JVM since round
6b; the hazard still applies to the remaining numpy keys
(dedup_embed_cosine, emb_kmeans_assign, fingerprints). The watch-list
n=5 medians absorb both effects; cross-round comparisons should use
medians, never single runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# Headline set: the flagship, the heaviest relational shapes, the §2.9
# windowing identity, and the LLM-data watch-list (BASELINE.md §4).
HEADLINE = [
    "agg_hash_grouped",
    "scan_predicate_pushdown",
    "join_inner_equi",
    "join_sortmerge_large",
    "join_asof",
    "winfn_row_number_topk",
    "window_tumbling_agg",
    "window_sliding_agg",
    "window_session_agg",
    "window_large_day",
    "window_topn",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_embed_cosine",
    "sim_cosine_topk",
    "sim_ann_ivf_topk",
    "text_tfidf_topterms",
    "text_fingerprint_rolling",
    "text_quality_score",
    "join_skew_salted",
    "join_bucketed_noshuffle",
    "sample_hash_bernoulli",
    "pivot_event_counts",
    "ts_resample_gapfill",
    "emb_kmeans_assign",
    "dedup_simhash_hamming",
    "dedup_cluster_cc",
    "llm_corpus_pipeline",
    "pattern_detect_cep",
    "q3_shipping_priority",
    "q5_local_supplier",
    # Round-7 additions (VERDICT r6 item 4): the partsupp quartet had no
    # bench entries, so a perf regression there was invisible. They are
    # NOT in the frozen round-1 BENCH.json; their governing baseline is
    # their first recorded medians (BASELINE.md addendum), and they are
    # excluded from the cross-round headline total (see main()). The two
    # round-6 streaming contracts (checkpoint-restart, rule-update) stay
    # off the wall-clock list entirely: their cost is trigger/checkpoint
    # dominated (two availableNow queries + RocksDB state restore per
    # run), which measures the streaming harness, not the operators.
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_variety",
    "q20_excess_stock",
    # Round-10 addition: the generic CEP compiler's greedy-strategy
    # representative (pattern_detect_cep covers only the suffix path).
    # NOT in the frozen BENCH.json — governing baseline in
    # NEW_KEY_BASELINES / BASELINE.md, measured under new_keys_total_s.
    "pattern_match_recognize",
    # Round-14 addition (VERDICT r13 item 6): the horizon-pair
    # family's only bench representative — followedByAny is the
    # suite's one output-complexity-bound key (its match set IS the
    # equi-join pair volume, 872k rows at 100x), so a regression in
    # compile_horizon_pairs was invisible to the bench. Same
    # measured-then-frozen protocol as pattern_match_recognize.
    "pattern_detect_followedbyany",
]


# Baseline-straddlers on a ±15% noise floor (VERDICT r5 item 6): a
# 3-run median cannot separate drift from noise there, so they get 5
# timed runs. dedup_simhash / dedup_near_minhash joined the list when
# their mapInPandas scans were bimodal from Python-worker churn; both
# are all-JVM since round 6b (zero Python, plan-test-pinned) but stay
# on n=5 — they are the suite's highest-stage-count keys and remain
# the most sensitive to scheduler noise on a loaded host. Everything
# else keeps n=3 — the extra runs cost ~10s total and only help where
# the ratio is ambiguous.
WATCH_LIST_RUNS = {
    "dedup_cluster_cc": 5,
    "sample_hash_bernoulli": 5,
    "dedup_simhash": 5,
    "dedup_near_minhash": 5,
    # r7: the numpy GEMM key topped the post-re-freeze ratio board
    # (1.74x in a hot session, 1.3x typical) — the documented
    # Python-worker-churn sensitivity; median over 5.
    "dedup_embed_cosine": 5,
    # r8 (VERDICT r7 item 5): the two iterative kernels swung
    # 1.22-1.24x r6→r7 on unchanged plans (VM drift); n=5 medians keep
    # noise out of their ratios.
    "emb_kmeans_assign": 5,
    # r9 (ADVICE r8): the four plan-stable keys whose swings have
    # always tracked VM drift, never code — read side by side with the
    # raw ratios to tell drift from a regression, so they need n=5.
    "dedup_exact": 5,
    "agg_hash_grouped": 5,
    "join_sortmerge_large": 5,
    "dedup_simhash_hamming": 5,
    # r10 (VERDICT r9 item 2): q11_important_stock regressed raw
    # 0.91 → 1.31 r8→r9 on an unchanged plan — sub-second keys with
    # n=3 cannot separate a real regression from tiny-key variance,
    # so the whole partsupp quartet (shared derived-partsupp CTE)
    # moves to n=5 while the regression is under watch.
    "q2_min_cost_supplier": 5,
    "q11_important_stock": 5,
    "q16_supplier_variety": 5,
    "q20_excess_stock": 5,
    # r11: pattern_match_recognize read raw 1.53 in the round's first
    # bench on a FAST session (light probe 0.53) while an isolated
    # 7-run series (9.90 cold first run, then 1.61, 1.16, 1.08, 0.87,
    # 0.82, 0.83) settled to a ~0.83-0.87 s steady state ≈ raw 1.04 —
    # the two-window runs-relation plan needs ~4 runs of codegen/JIT
    # tier-up, so 2 warmups leave n=3 sampling the decay tail, not
    # the query. n=5 + 4 warmups (the quartet precedent); plan
    # verified unchanged by the isolated re-run and the
    # expression-identical compiler gating.
    "pattern_match_recognize": 5,
    # r13 (VERDICT r12 item 4): pattern_detect_cep read raw 1.45 in
    # the loaded r12 final bench; isolated per protocol it reads
    # 1.04-1.22 with a tight band on sessions whose LIGHT probe
    # itself reads 1.45-1.76 (slow VM), plan pinned unchanged, and
    # the build/exec split shows only the known constant driver-side
    # plan-build term (~35% at this key's size; SCALING.md
    # "Round-13"). Sub-second key -> n=5 + 4 warmups like its
    # sibling.
    "pattern_detect_cep": 5,
    # r14 (VERDICT r13 item 3): sim_ann_ivf_topk drifted 1.25 -> 1.40
    # across two driver benches; isolated per protocol it reads
    # 0.90-1.16 raw across three wall-clock slots (SCALING.md
    # "Round-14: ... isolated") with the 1.16 landing on a slot shared
    # with a concurrent streaming query — session drift, not
    # regression; joins the watch list so round benches sample its
    # steady state (the pattern_detect_cep precedent).
    "sim_ann_ivf_topk": 5,
    # r15 (VERDICT r14 item 2): ts_resample_gapfill read raw 1.08 ->
    # 1.52 across the r13/r14 driver benches (norm 2.00 on the r14
    # fast-probe session) with no isolation history; isolated per
    # protocol this round it reads at-baseline raws with tight bands
    # across multiple wall-clock slots, and 0.977 in the round's
    # clean bench (SCALING.md "Round-15: ts_resample_gapfill
    # isolated") — verdict session drift on a sub-second key (the
    # partsupp-quartet profile); joins the watch list either way per
    # the directive so round benches sample its steady state.
    "ts_resample_gapfill": 5,
    # r15 (round close): pattern_detect_followedbyany read raw 2.007
    # in one closing bench (n=3) after 0.71 in the SAME session's
    # earlier clean bench; isolated per protocol minutes later it
    # reads 0.757 / 0.754 across two fresh processes with tight
    # bands (SCALING.md "Round-15: followedbyany") — the sub-second
    # n=3 variance profile again; n=5 + 4 warm-ups so benches sample
    # its steady state.
    "pattern_detect_followedbyany": 5,
}

# Governing baseline for keys NOT in the frozen round-1 BENCH.json:
# the partsupp quartet's first recorded medians (BENCH_r07; BASELINE.md
# "Governing per-key baselines" table is the auditable source).
NEW_KEY_BASELINES = {
    "q2_min_cost_supplier": 0.3732,
    "q11_important_stock": 0.4001,
    "q16_supplier_variety": 0.3352,
    "q20_excess_stock": 0.4676,
    # round-10 first median (BASELINE.md addendum): the CEP compiler's
    # greedy strategy's bench representative (cep covers only suffix)
    "pattern_match_recognize": 0.8386,
    # round-14 first median (BASELINE.md addendum): the horizon-pair
    # (followedBy enumeration) representative
    "pattern_detect_followedbyany": 0.3195,
}


def governing_baselines() -> tuple[dict[str, float], set[str]]:
    """(per-key 2x-gate table, frozen-key set) — the ONE construction
    of the governing baselines, shared by main() and the invariant
    tests (review r8: a mirrored copy in the tests could drift from
    the harness it pins). Frozen BENCH.json entries overlay the
    NEW_KEY_BASELINES fallback, so a future re-freeze governs."""
    with open(os.path.join(_REPO_ROOT, "BENCH.json")) as f:
        frozen = json.load(f)["queries"]
    governing = dict(NEW_KEY_BASELINES)
    governing.update({k: v["median_s"] for k, v in frozen.items()})
    return governing, set(frozen)


def bench_one(spark, fn, sf_dir: str, runs: int = 3, warmups: int = 2) -> dict:
    def run() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # TWO warm-ups (round 6): one is not enough to reach steady state
    # for multi-stage plans — codegen compiles per stage as AQE reveals
    # them, and JIT tiers up across the first executions, so single-
    # warm-up medians recorded the compiler, not the query (measured:
    # dedup_embed_cosine runs [3.24, 2.49, 0.77] → median 2.49 where
    # steady state is 0.77; q5 decayed 4.45 → 1.00 the same way).
    # Watch-list keys get FOUR (round 7): the two LSH plans pair ~6 AQE
    # stages with the suite's largest generated classes (64/62 unrolled
    # aggregate columns), and their measured run trajectory still
    # decays through run 5 (1.82 → 1.31 s) — a 2-warm-up median there
    # records C2 tier-up, not the query.
    #
    # Classes Janino compiled, counted outside the timed calls: a warm
    # run should compile nothing (session.py sizes the class cache), so
    # a nonzero "runs" count names per-run recompiles as the regression.
    c0 = _codegen_compiles(spark)
    for _ in range(warmups):
        run()
    c1 = _codegen_compiles(spark)
    times = [run() for _ in range(runs)]
    c2 = _codegen_compiles(spark)
    return {
        "median_s": round(statistics.median(times), 4),
        "runs": [round(t, 4) for t in times],
        "codegen_compiles": {"warmups": c1 - c0, "runs": c2 - c1},
    }


def _codegen_compiles(spark) -> int:
    """Classes the session's JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation-time histogram counts one per cache
    miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from flink_large_window_spark import api
    from flink_large_window_spark.session import get_spark

    spark = get_spark("bench")
    qs = api.queries()
    # Read the frozen baseline BEFORE the (minutes-long) measurement
    # loop: a missing/corrupt BENCH.json should fail fast, not after
    # every query has run and the results are about to be discarded.
    governing, frozen_keys = governing_baselines()
    # Fail fast BEFORE the minutes-long measurement loop: every
    # headline key must have a governing baseline, or its 2x gate is
    # silently unreported (review r8 — the exact blind spot the
    # quartet baselines were created to close).
    unbaselined = [k for k in HEADLINE if k not in governing]
    if unbaselined:
        raise RuntimeError(
            f"HEADLINE keys without a governing baseline: {unbaselined}; "
            "freeze them into BENCH.json or add NEW_KEY_BASELINES "
            "entries (and the BASELINE.md table row)"
        )
    results: dict[str, dict] = {}
    for key in HEADLINE:
        results[key] = bench_one(
            spark,
            qs[key],
            sf_dir,
            runs=WATCH_LIST_RUNS.get(key, 3),
            warmups=4 if key in WATCH_LIST_RUNS else 2,
        )
        print(f"# {key}: {results[key]['median_s']}s", file=sys.stderr)

    # "value" stays comparable across rounds: it sums ONLY the keys
    # present in the frozen BENCH.json, so the headline total can be
    # read directly against its total_s (24.62 s after the round-7
    # LSH re-freeze — BASELINE.md). Keys added to
    # HEADLINE later (the round-7 partsupp quartet) are measured and
    # recorded per-key plus as new_keys_total_s, with their governing
    # baseline documented in BASELINE.md.
    total = round(
        sum(r["median_s"] for k, r in results.items() if k in frozen_keys), 4
    )
    new_total = round(
        sum(r["median_s"] for k, r in results.items() if k not in frozen_keys),
        4,
    )
    ratios = {
        k: {"raw": round(results[k]["median_s"] / governing[k], 3)}
        for k in HEADLINE
    }
    env = {
        "spark": spark.version,
        "cpus": os.cpu_count(),
        "master": spark.sparkContext.master,
        "sf_dir": sf_dir,
    }
    with open(os.path.join(_REPO_ROOT, "BENCH_LAST.json"), "w") as f:
        json.dump(
            {
                "queries": results,
                "total_s": total,
                "new_keys_total_s": new_total,
                "ratios": ratios,
                "env": env,
            },
            f,
            indent=2,
        )

    # Print ONLY the contract fields (VERDICT r15 item 2): the driver
    # captures a bounded stdout tail, and the r14 line — grown to ~4 KB
    # with ratios/probe_detail — was front-truncated past recovery,
    # which killed the PERF round-over-round comparison (BENCH_r14
    # parsed: null). Everything beyond the contract quintet is already
    # duplicated in BENCH_LAST.json above; the printed line stays well
    # under 2 KB at the current 38-key headline.
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": {k: v["median_s"] for k, v in results.items()},
                "sf": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
