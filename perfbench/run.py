#!/usr/bin/env python3
"""One-command benchmark of the flink_large_window_spark engine.

    python3 perfbench/run.py --workload sql_fixture --seed 1 --seconds 16 --trace 0

Run from the repository root (any cwd works; the repo is found from this
file). One invocation is one fresh process running one workload:

1. generate the workload's inputs from ``--seed`` into a fresh directory
   (``perfbench/inputs.py``; the seed changes row order only);
2. set up three times, each in a fresh process (two ``setup_probe.py``
   children, then this process): import the package and call
   ``session.get_spark`` (``local[N]`` from the workload's fixed core
   count, else the CPUs this process may use or ``$SPARK_GRAFT_CPUS``;
   driver memory from ``MemTotal``); ``setup_s`` is the median;
3. one cold pass over the workload's keys that collects every output and
   checks it against the key's DuckDB oracle (``tests/check_oracle.py``'s
   comparison), then ``max(1, round(--seconds / pass_s))`` timed passes
   (``pass_s`` is fixed per workload, so the sample count does not
   depend on the code's speed). A timed key run is the ``queries()[key]``
   call, the physical plan and a noop-sink write; its wall and the CPU
   seconds of this process tree are recorded. Stream outputs sit in the
   memory sink and are checked after every run;
4. stop the session and wait until the JVM and the Python workers have
   exited; every key run that raised or mismatched is failed;
5. print one JSON line: end-to-end metrics (``--trace 0``) or per-layer
   metrics (``--trace 1``, spans and Spark counters read from outside).

A full record (environment, per-key samples, spans) is written to
``.perfbench_out/<workload>-s<seed>-t<trace>-c<cpus>.json``. Everything
the run writes stays under the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager, nullcontext

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import LAYERS, WORKLOADS, layer_of  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot names, cut to 15 chars
SETUPS = 3  # set-ups per run; setup_s is their median


def host_size(wl) -> tuple[int, int]:
    """(cores, driver memory in MiB) for ``local[N]`` on this host: the
    workload's fixed core count if it has one, else the CPUs this process
    may use; and an eighth of ``MemTotal`` (1-8 GiB)."""
    cpus = wl.cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, max(1024, min(8192, total_kb // (8 * 1024)))


def configure_env(work: str, wl) -> dict:
    """Point every scratch, spill and worker path at ``work`` and size
    the session for the workload on this host; return what was chosen."""
    cpus, mem_mb = host_size(wl)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{mem_mb}m")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package from the repo, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Every JVM (the launcher too): scratch under ``work``, no hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    return {"cpus": cpus, "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}


def setup_session():
    """Import the package and start its session: the timed set-up."""
    t0 = time.perf_counter()
    from flink_large_window_spark import api, session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, api, time.perf_counter() - t0


def process_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(children by parent pid, name by pid) of every live process."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
            fields = rest.split()
        except (OSError, ValueError):
            continue
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        names[int(d)] = head.split("(", 1)[-1]
    return children, names


def descendants() -> list[int]:
    children, _ = process_table()
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) is gone."""
    pids = descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        _, alive = process_table()
        if not any(p in alive for p in pids):
            return
        time.sleep(0.05)
    raise TimeoutError(f"processes still running after stop: {[p for p in pids if p in alive]}")


def tree_cpu() -> tuple[int, dict[int, int]]:
    """CPU clock ticks (user + system) used so far by this process and
    all its live descendants, with their reaped children; and the ticks
    of each live JIT compiler thread of a JVM among them, by thread id."""
    total, jit = 0, {}
    for pid in [os.getpid()] + descendants():
        stat = read_stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        total += sum(int(x) for x in stat[1][11:15])
        if stat[0] != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = read_stat(f"/proc/{pid}/task/{tid}/stat")
            if t is not None and t[0].startswith(JIT_THREADS):
                jit[int(tid)] = int(t[1][11]) + int(t[1][12])
    return total, jit


def read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc`` stat file, or None
    if the process or thread has gone."""
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.split("(", 1)[1], rest.split()


def cpu_between(before: tuple[int, dict], after: tuple[int, dict]) -> tuple[float, float]:
    """(all CPU seconds, the JIT compilers' share of them) between two
    ``tree_cpu()`` readings. A compiler thread that exits in between
    (HotSpot stops idle ones) drops out of the JIT share."""
    tick = os.sysconf("SC_CLK_TCK")
    jit = sum(t - before[1].get(tid, 0) for tid, t in after[1].items())
    return (after[0] - before[0]) / tick, jit / tick


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests, summed over
    this host's CPUs (``steal`` in ``/proc/stat``); 0 on bare metal."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), and each process name's own
    peak, sampled from ``/proc`` while ``active`` is set: during key
    runs, not during the output checks, whose transient frames are the
    benchmark's own memory."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> dict[str, int]:
        """RSS bytes of this process tree, summed per process name."""
        children, names = process_table()
        by_name: dict[str, int] = {}
        todo = [(os.getpid(), None)]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                # A JVM child that has not exec'd yet (the JVM spawning a
                # Python process) still maps the JVM's memory: skip it.
                if exe == parent_exe and os.path.basename(exe) == "java":
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            todo += [(c, exe) for c in children.get(pid, ())]
            by_name[names.get(pid, "?")] = by_name.get(names.get(pid, "?"), 0) + rss
        return by_name

    def _loop(self):
        while not self._stop.is_set():
            if self.active.is_set():
                by_name = self._tree_rss()
                if self.active.is_set():
                    self.peak = max(self.peak, sum(by_name.values()))
                    for name, rss in by_name.items():
                        self.peak_by_name[name] = max(self.peak_by_name.get(name, 0), rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def key_medians(samples: list[dict], name: str) -> dict[str, float]:
    """Each key's median of ``name`` over its timed runs."""
    by_key: dict[str, list[float]] = {}
    for s in samples:
        by_key.setdefault(s["key"], []).append(s[name])
    return {k: statistics.median(v) for k, v in by_key.items()}


class Runner:
    """Runs one workload's keys in one session and keeps the samples."""

    def __init__(self, spark, api, wl, sf_dir: str, rss, tracer=None, probe=None, listener=None):
        from check_oracle import duck_con

        self.spark, self.wl, self.sf_dir, self.rss = spark, wl, sf_dir, rss
        self.fns = {k: api.queries()[k] for k in wl.keys}
        self.oracles = {k: api.oracle_sql()[k] for k in wl.keys}
        self.layers = {k: layer_of(fn) for k, fn in self.fns.items()}
        self.con = duck_con(sf_dir)
        self._expected: dict = {}
        self.tracer, self.probe, self.listener = tracer, probe, listener
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.samples: list[dict] = []  # one per key run
        self.pass_steal_s: list[float] = []  # CPU steal during each pass

    def expected(self, key: str):
        if key not in self._expected:
            self._expected[key] = self.con.execute(self.oracles[key]).df()
        return self._expected[key]

    def check(self, key: str, got) -> bool:
        """The collected output ``got`` equals the key's oracle (same
        comparison as ``tests/check_oracle.py``: columns, dtypes, sorted
        cells)."""
        from check_oracle import _canon_dtype, canon_rows, nested_cols

        want = self.expected(key)
        if nested_cols(got) or nested_cols(want):
            return False
        if sorted(got.columns) != sorted(want.columns):
            return False
        if any(_canon_dtype(got[c].dtype) != _canon_dtype(want[c].dtype) for c in got.columns):
            return False
        return canon_rows(got) == canon_rows(want)

    def _fail(self, key: str, why: str):
        self.failed += 1
        self.failures.append(f"{key}: {why}")
        print(f"# FAIL {key}: {why}", file=sys.stderr, flush=True)

    @contextmanager
    def _phase(self, name: str, key: str, phases: dict):
        if self.tracer is None:
            t0 = time.perf_counter()
            yield
            phases[f"{name}_s"] = time.perf_counter() - t0
        else:
            with self.tracer.span(name, self.layers[key], key) as s:
                yield
            phases[f"{name}_s"] = s["end"] - s["start"]

    def run_key(self, key: str, pass_no: int, collect: bool = False) -> float:
        """One key run: the ``queries()[key]`` call, the physical plan and
        a noop-sink write, or with ``collect`` a ``toPandas()`` whose
        result is then checked. Returns the wall of the run."""
        fn, layer, tr = self.fns[key], self.layers[key], self.tracer
        self.attempted += 1
        group = f"{key}#{pass_no}"
        started = self.listener.count_started() if self.listener else 0
        phases: dict = {}
        self.rss.active.set()
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        try:
            with (
                self.probe.key_run(group, key) if tr else nullcontext(),
                tr.span(f"key:{key}", layer, key) if tr else nullcontext(),
            ):
                with self._phase("build", key, phases):
                    df = fn(self.spark, self.sf_dir)
                with self._phase("plan", key, phases):
                    df._jdf.queryExecution().executedPlan()
                with self._phase("exec", key, phases):
                    if collect:
                        got = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001  a raising key counts as failed
            self._fail(key, f"{type(e).__name__}: {str(e)[:300]}")
            return time.perf_counter() - t0
        finally:
            self.rss.active.clear()
        wall = time.perf_counter() - t0
        cpu, jit = cpu_between(cpu0, tree_cpu())
        sample = {"key": key, "layer": layer, "pass": pass_no, "wall_s": wall,
                  "cpu_s": cpu, "jit_cpu_s": jit, **phases}
        if tr is not None:
            sample.update(self.probe.counts(group))
            if layer == "streaming" and self.listener is not None:
                sample.update(self.listener.take(started))
        self.samples.append(sample)
        stream = key in self.wl.stream_keys
        if collect or stream:
            # Stream outputs are materialised in the memory sink, so they
            # are checked after every run; the sink's view is then dropped.
            t1 = time.perf_counter()
            try:
                if not self.check(key, got if collect else df.toPandas()):
                    self._fail(key, "output differs from the oracle")
            except Exception as e:  # noqa: BLE001  a failed check counts as failed
                self._fail(key, f"check: {type(e).__name__}: {str(e)[:300]}")
            finally:
                if stream:
                    for t in self.spark.catalog.listTables():
                        if t.isTemporary and t.name.startswith("flws_stream_sink_"):
                            self.spark.catalog.dropTempView(t.name)
            sample["check_s"] = time.perf_counter() - t1
        return wall

    def run_pass(self, pass_no: int, collect: bool = False) -> float:
        """Run every key once; returns the sum of the key walls."""
        steal0 = cpu_steal_s()
        with self.tracer.span(f"pass:{pass_no}", "bench") if self.tracer else nullcontext():
            wall = sum(self.run_key(k, pass_no, collect) for k in self.wl.keys)
        self.pass_steal_s.append(cpu_steal_s() - steal0)
        return wall


def setup_in_child() -> float:
    """One set-up in a fresh process (``setup_probe.py``); its seconds."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py")],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return float(out.stdout.strip().splitlines()[-1])


def pass_sums(samples: list[dict], name: str) -> dict[int, float]:
    """``name`` summed over the keys of each pass, by pass number."""
    sums: dict[int, float] = {}
    for s in samples:
        sums[s["pass"]] = sums.get(s["pass"], 0.0) + s[name]
    return sums


def measure(args, wl, sf_dir: str, env: dict, rss: RssSampler) -> dict:
    import spans as tr_mod

    tracer = tr_mod.Tracer(run_id=f"{wl.name}-s{args.seed}-{os.getpid()}") if args.trace else None
    # Set-up is timed SETUPS times, each in a fresh process, the last one
    # being the session the keys run in; setup_s is their median.
    setups = [setup_in_child() for _ in range(SETUPS - 1)]
    t_setup = time.perf_counter()
    spark, api, setup_s = setup_session()
    if tracer is not None:
        # The set-up ran before any span could open; record it as one.
        tracer.record("session.get_spark", "session", t_setup, t_setup + setup_s)
    try:
        probe = listener = None
        if tracer is not None:
            probe = tr_mod.SparkProbe(spark)
            listener = tr_mod.make_stream_listener()
            spark.streams.addListener(listener)
        runner = Runner(spark, api, wl, sf_dir, rss, tracer, probe, listener)
        table_stats = {"calls": 0, "resolved": 0, "resolve_s": 0.0}
        passes: list[float] = []
        with tr_mod.traced_table_calls(tracer, table_stats) if tracer else nullcontext():
            # The cold pass collects and checks every output and warms
            # up the timed passes.
            cold = runner.run_pass(0, collect=True)
            for i in range(max(1, round(args.seconds / wl.pass_s))):
                passes.append(runner.run_pass(1 + i))
        if listener is not None:
            spark.streams.removeListener(listener)
    finally:
        stop_session(spark)
    timed = [s for s in runner.samples if s["pass"] > 0]
    cpu = pass_sums(runner.samples, "cpu_s")
    return {
        "env": env,
        "setup_samples_s": setups + [setup_s],
        "cold_pass_s": cold,
        "cold_pass_cpu_s": cpu.get(0, 0.0),
        "pass_samples_s": passes,
        # a pass whose every key raised has no samples
        "pass_cpu_samples_s": [cpu.get(p, 0.0) for p in range(1, len(passes) + 1)],
        "samples": runner.samples,
        "pass_steal_s": runner.pass_steal_s,
        "timed": timed,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "failures": runner.failures,
        "tracer": tracer,
        "table_stats": table_stats,
    }


def end_to_end(m: dict) -> tuple[dict, dict]:
    """The printed metrics: set-up wall and CPU seconds of the cold and
    the timed passes. For the record only: each key's median over the
    timed passes, in CPU and wall seconds, and the median and slowest of
    these, with the passes' walls."""
    cpus = key_medians(m["timed"], "cpu_s")
    walls = key_medians(m["timed"], "wall_s")
    metrics = {
        "setup_s": (statistics.median(m["setup_samples_s"]), "s"),
        "cold_pass_cpu_s": (m["cold_pass_cpu_s"], "s"),
        "pass_cpu_s": (statistics.median(m["pass_cpu_samples_s"]), "s"),
    }
    record = {
        "query_cpu_s_by_key": cpus,
        "wall": {"cold_pass_s": m["cold_pass_s"], "pass_s": statistics.median(m["pass_samples_s"])},
    }
    if cpus:  # empty only if every timed key run raised
        record["query_cpu_s_p50"] = statistics.median(cpus.values())
        record["query_cpu_s_tail"] = max(cpus.values())
        record["wall"]["query_s_p50"] = statistics.median(walls.values())
        record["wall"]["query_s_tail"] = max(walls.values())
    return metrics, record


def per_layer(wl, m: dict, events: int, rss: RssSampler) -> dict:
    import spans as tr_mod

    vals = dict.fromkeys(tr_mod.per_layer_names(), 0.0)
    tracer = m["tracer"]
    session = next(s for s in tracer.spans if s["layer"] == "session")
    vals["session.start_s"] = session["end"] - session["start"]
    ts = m["table_stats"]
    vals["tables.resolve_s"] = ts["resolve_s"]
    vals["tables.resolved"] = ts["resolved"]
    vals["tables.calls"] = ts["calls"]
    # Counters: summed over the timed key runs, per pass (so a longer
    # run does not read as more work), by the key's layer.
    n_pass = max(1, len(m["pass_samples_s"]))
    for s in m["timed"]:
        for name in tr_mod.PHASES + tr_mod.SPARK_COUNTERS:
            vals[f"{s['layer']}.{name}"] += s.get(name, 0.0) / n_pass
        if s["layer"] == "streaming":
            for name in tr_mod.STREAM_COUNTERS:
                vals[f"streaming.{name}"] += s.get(name, 0.0) / n_pass
    for kind, keys in (("handler", wl.handler_keys), ("native", wl.native_keys)):
        if keys:
            med = sum(
                statistics.median(s["wall_s"] for s in m["timed"] if s["key"] == k)
                for k in keys
            )
            vals[f"streaming.{kind}_events_per_s"] = len(keys) * events / med
    for layer, secs in tracer.self_times().items():
        if layer in LAYERS:
            vals[f"{layer}.self_s"] = secs
    vals["jvm.jit_cpu_s"] = sum(s["jit_cpu_s"] for s in m["timed"]) / n_pass
    for name, rss_bytes in rss.peak_by_name.items():
        proc = "jvm" if name == "java" else "python" if name.startswith("python") else None
        if proc:
            vals[f"{proc}.peak_rss_mb"] += rss_bytes / 2**20
    vals["trace.traced_pass_s"] = statistics.median(m["pass_samples_s"])
    vals["trace.traced_pass_cpu_s"] = statistics.median(m["pass_cpu_samples_s"])
    vals["trace.spans"] = len(tracer.spans)
    return {k: (v, tr_mod.unit_of(k)) for k, v in vals.items()}


def versions() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        pass
    return {
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0], "commit": commit,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in (
            "flink_large_window_spark/api.py", "tests/check_oracle.py", "tools/scale_probe.py",
        )
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    wl = WORKLOADS[args.workload]
    work = os.path.join(WORK_DIR, f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = configure_env(work, wl)
        sf_dir = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        rows = json.loads(subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), sf_dir,
             str(args.seed), str(wl.replicate)],
            check=True, capture_output=True, text=True, timeout=300,
        ).stdout)
        gen_s = time.perf_counter() - t0
        steal0 = cpu_steal_s()
        with RssSampler() as rss:
            m = measure(args, wl, sf_dir, env, rss)
        steal_s = cpu_steal_s() - steal0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer(wl, m, rows["events"], rss)
        extra = {}
    else:
        metrics, extra = end_to_end(m)
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "keys": list(wl.keys), "rows": rows,
        "gen_s": gen_s, "cpu_steal_s": steal_s, "env": {**m["env"], **versions()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **extra,
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_by_process": rss.peak_by_name,
        "setup_samples_s": m["setup_samples_s"],
        "pass_samples_s": m["pass_samples_s"],
        "pass_cpu_samples_s": m["pass_cpu_samples_s"],
        "pass_steal_s": m["pass_steal_s"],
        "samples": m["samples"],
        "attempted": m["attempted"], "failed": m["failed"], "failures": m["failures"],
        "failed_frac": m["failed"] / m["attempted"],
    }
    if m["tracer"] is not None:
        record["spans"] = m["tracer"].spans
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{wl.name}-s{args.seed}-t{args.trace}-c{m['env']['cpus']}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(record, f, indent=1)
    for k, (v, u) in metrics.items():
        print(f"# {k:40s} {v:14.4f} {u}", file=sys.stderr)
    print(f"# failed_frac {m['failed']}/{m['attempted']}", file=sys.stderr)
    print(f"# cpu steal during the run {steal_s:.1f}s", file=sys.stderr)
    print(f"# wall {time.perf_counter() - T0:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
