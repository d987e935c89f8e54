"""Frozen micro-batch replay throughput bench for the streaming CEP
machines (round 15 — VERDICT r14 item 4).

The batch HEADLINE bench cannot see a throughput regression in the
``applyInPandasWithState`` handlers — their keys run real streaming
queries whose fixture-scale wall time is dominated by query startup
and state-store lifecycle, so bench.py excludes them by design. This
harness is their bench representative: it replays a k×-replicated
events fixture (pyarrow, exact fixture layout — one file, one data
micro-batch, the same bounded-replay trigger shape every scale
battery uses) through TWO machine representatives and reports
events/second:

- ``pattern_detect_cep_stream`` — the per-EVENT suffix machine
  (compile_suffix_stream): anchor decided per folded event over a
  fixed last-W window; throughput is the per-event fold cost.
- ``pattern_detect_oneormore_stream`` — the run-fold automaton
  (compile_stream): state is the compressed run window; throughput is
  the run-fold + candidacy cost.

Protocol (measured-then-frozen, the quartet precedent): base
``--sf /root/testdata/sf0.01`` (10,000 events), ``--k 100`` → 1.0 M
events per key, RocksDB state store, STREAM_SHUFFLE_PARTITIONS=8
(run_to_memory's documented store-lifecycle setting), n=1 (minute-
scale runs; the regression gate is the same 2× raw ratio the batch
bench uses, which single runs separate fine — the r14 ad-hoc numbers
swung well under that). First run wrote STREAM_BENCH.json (the FROZEN
baseline, never overwritten); every run writes STREAM_BENCH_LAST.json
and prints one JSON line.

The session comes from ``session.get_spark``: ``SPARK_GRAFT_CPUS``
sets the local core count, ``SPARK_DRIVER_MEMORY`` the driver heap.

Usage: python tools/stream_bench.py [--k 100] [--sf DIR] [--keys ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
_TOOLS = os.path.dirname(os.path.abspath(__file__))
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

DEFAULT_KEYS = (
    "pattern_detect_cep_stream",
    "pattern_detect_oneormore_stream",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--keys", nargs="*", default=list(DEFAULT_KEYS))
    args = ap.parse_args()

    from scale_probe import _replicate_events_arrow

    import flink_large_window_spark.api as api
    from flink_large_window_spark.session import get_spark
    from flink_large_window_spark.tables import row_count

    # get_spark sizes the session from SPARK_GRAFT_CPUS /
    # SPARK_DRIVER_MEMORY, runs the workers under the package daemon
    # with the package on their path, and preps the session (NTZ).
    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = api.queries()

    d = tempfile.mkdtemp(prefix=f"streambench_{args.k}x_")
    try:
        _replicate_events_arrow(args.sf, d, args.k)
        n_events = row_count(d, "events")
        results = {}
        for key in args.keys:
            t0 = time.monotonic()
            rows = queries[key](spark, d).count()
            secs = time.monotonic() - t0
            results[key] = {
                "events": n_events,
                "seconds": round(secs, 2),
                "events_per_s": round(n_events / secs),
                "rows": rows,
            }
            print(f"# {key}: {secs:.1f}s  "
                  f"{results[key]['events_per_s']} ev/s  rows={rows}",
                  file=sys.stderr, flush=True)
        out = {
            "metric": "stream_replay_events_per_s",
            "sf": args.sf,
            "k": args.k,
            "keys": results,
        }
        line = json.dumps(out)
        print(line)
        with open(os.path.join(_REPO, "STREAM_BENCH_LAST.json"), "w") as f:
            f.write(line + "\n")
        frozen = os.path.join(_REPO, "STREAM_BENCH.json")
        if not os.path.exists(frozen):
            with open(frozen, "w") as f:
                f.write(line + "\n")
            print("# froze first measurement to STREAM_BENCH.json",
                  file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
