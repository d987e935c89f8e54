"""Seeded inputs for the benchmark.

The tables are the repository's sf0.01 test fixture (``TESTDATA.md``),
kept as a byte copy in ``perfbench/fixture/sf0.01`` so that a run reads
nothing outside its checkout. The run's ``--seed`` only permutes the
row order of every table: every seed sees the same row multiset,
schema, sizes and file layout (one pyarrow-written file per table, one
row group, ``timestamp[us]`` naive), so the seed changes arrival order
and nothing else the program could exploit.

The stream replay input replaces ``events`` with ``k`` id-offset copies
written by ``tools/scale_probe.py``'s ``_replicate_events_arrow``. The
copies differ only in their ids, so after the permutation it does not
matter which copy got which offset.

    python3 perfbench/inputs.py OUT_DIR SEED [REPLICATE]

writes one run's inputs and prints the row counts as JSON. ``run.py``
calls it in a child process: importing ``scale_probe`` imports pyspark,
which belongs to the timed set-up.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
sys.path[:0] = [p for p in (ROOT, os.path.join(ROOT, "tools")) if p not in sys.path]

from scale_probe import ALL_TABLES, _replicate_events_arrow  # noqa: E402


def permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(out_dir: str, seed: int, replicate: int = 1) -> dict[str, int]:
    """Write every fixture table, rows permuted by ``seed``, into
    ``out_dir``; return row counts. ``replicate > 1`` replaces events
    with that many id-offset copies (the stream replay input)."""
    rng = np.random.default_rng(seed)
    out_dir = os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    with tempfile.TemporaryDirectory(dir=os.path.dirname(out_dir)) as replica:
        if replicate > 1:
            _replicate_events_arrow(FIXTURE, replica, replicate)
        for name in ALL_TABLES:
            src = replica if name == "events" and replicate > 1 else FIXTURE
            tbl = permuted(pq.read_table(os.path.join(src, f"{name}.parquet")), rng)
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = tbl.num_rows
    return rows


if __name__ == "__main__":
    out, seed, *rep = sys.argv[1:]
    print(json.dumps(generate(out, int(seed), int(rep[0]) if rep else 1)))
