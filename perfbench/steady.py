#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads sql_fixture stream_llm --runs 10 --seconds 16

For every workload and end-to-end metric it prints the median of the
runs and the quartile spread ``(Q3 - Q1) / median`` (quartiles as
``statistics.quantiles(values, n=4)`` gives them), next to the metric's
bound from ``BENCHMARK.json``. ``--out FILE`` also writes every run's
result line and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"runs": {}, "summary": {}}
    for wl in args.workloads:
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            res, wall = run_once(wl, seed, args.seconds, args.trace)
            results.append({"seed": seed, "wall_s": wall, **res})
            print(f"# {wl} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
        report["runs"][wl] = results
        summary = {}
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            summary[name] = {
                "median": statistics.median(vals),
                "spread": spread(vals) if len(vals) > 1 else None,
                "bound": bounds.get(name),
            }
            s = summary[name]
            sp = "n/a" if s["spread"] is None else f"{s['spread']:.4f}"
            print(f"{wl:14s} {name:34s} median {s['median']:12.4f}  spread {sp}"
                  f"  bound {s['bound']}")
        summary["_wall_s"] = {"median": statistics.median(r["wall_s"] for r in results),
                              "max": max(r["wall_s"] for r in results)}
        print(f"{wl:14s} run wall median {summary['_wall_s']['median']:.1f}s "
              f"max {summary['_wall_s']['max']:.1f}s")
        report["summary"][wl] = summary
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
