"""Self-tests of the benchmark: inputs, workload registry, metric names.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tests")]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from check_oracle import DEFAULT_SF as FIXTURE  # noqa: E402
from flink_large_window_spark.tables import TABLE_NAMES  # noqa: E402
from workloads import KEY_LAYERS, WORKLOADS, layer_of  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _columns(pf):
    return [(c.path, c.physical_type, str(c.logical_type)) for c in pf.schema]


def _files(d):
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in TABLE_NAMES}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    inputs.generate(tmp_path / "a", seed=7, replicate=3)
    inputs.generate(tmp_path / "b", seed=7, replicate=3)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


def test_other_seed_changes_row_order_only(tmp_path):
    inputs.generate(tmp_path / "a", seed=1, replicate=3)
    inputs.generate(tmp_path / "b", seed=2, replicate=3)
    for t in TABLE_NAMES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert a.schema == b.schema
        if a.num_rows > 5:
            assert not a.equals(b), f"{t}: seed did not change the row order"
        cols = a.column_names
        assert a.sort_by([(c, "ascending") for c in cols if c != "embedding"]).equals(
            b.sort_by([(c, "ascending") for c in cols if c != "embedding"])
        ), f"{t}: row multiset differs between seeds"


def test_inputs_keep_the_fixture_layout(tmp_path):
    inputs.generate(tmp_path, seed=3)
    for t in TABLE_NAMES:
        got = pq.ParquetFile(tmp_path / f"{t}.parquet")
        want = pq.ParquetFile(os.path.join(inputs.FIXTURE, f"{t}.parquet"))
        assert got.schema_arrow == want.schema_arrow, t
        # parquet physical + logical types (timestamp[us], isAdjustedToUTC=false)
        assert _columns(got) == _columns(want), t
        assert got.metadata.num_row_groups == want.metadata.num_row_groups == 1, t
        assert got.metadata.num_rows == want.metadata.num_rows, t


@pytest.mark.skipif(not os.path.isdir(FIXTURE), reason="fixture tables not present")
def test_bundled_fixture_is_a_byte_copy():
    for t in TABLE_NAMES:
        with open(os.path.join(FIXTURE, f"{t}.parquet"), "rb") as f:
            want = f.read()
        with open(os.path.join(inputs.FIXTURE, f"{t}.parquet"), "rb") as f:
            assert f.read() == want, t


def test_replicated_events_keep_ids_unique(tmp_path):
    rows = inputs.generate(tmp_path, seed=5, replicate=4)
    base = pq.read_table(os.path.join(inputs.FIXTURE, "events.parquet"))
    ev = pq.read_table(tmp_path / "events.parquet")
    assert rows["events"] == 4 * base.num_rows == ev.num_rows
    assert len(set(ev["event_id"].to_pylist())) == ev.num_rows
    assert len(set(ev["user_id"].to_pylist())) == 4 * len(set(base["user_id"].to_pylist()))


def test_every_workload_key_is_registered_oracled_and_layered():
    from flink_large_window_spark import api

    queries, oracles = api.queries(), api.oracle_sql()
    for wl in WORKLOADS.values():
        assert len(set(wl.keys)) == len(wl.keys)
        assert set(wl.handler_keys + wl.native_keys) <= set(wl.keys)
        for key in wl.keys:
            assert key in queries and key in oracles, key
            assert layer_of(queries[key]) in KEY_LAYERS, key


def test_metric_names_and_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec["workloads"][i]["name"] for i in range(len(spec["workloads"]))) == set(WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == spans.per_layer_names()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n


def test_parse_metric_reads_rendered_totals():
    assert spans.parse_metric("600,000") == 600000
    assert spans.parse_metric("10.5 MiB") == 10.5 * 2**20
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, ...)") == 1.5
    assert spans.parse_metric("13 ms") == pytest.approx(0.013)


def test_key_medians_take_each_keys_median():
    samples = [
        {"key": "a", "cpu_s": 1.0}, {"key": "a", "cpu_s": 3.0}, {"key": "a", "cpu_s": 2.0},
        {"key": "b", "cpu_s": 5.0},
    ]
    assert run.key_medians(samples, "cpu_s") == {"a": 2.0, "b": 5.0}


def test_self_time_subtracts_children():
    tr = spans.Tracer("t")
    tr.spans = [
        {"id": 0, "layer": "bench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "operators", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "layer": "tables", "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert tr.self_times() == {"bench": 6.0, "operators": 3.0, "tables": 1.0}
