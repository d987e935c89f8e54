"""Compiled query code is reused across runs.

``session.get_spark`` sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``) above one pass's working set,
so running the same keys again compiles nothing. With Spark's default
of 100 entries a second pass of the benchmark's batch keys recompiled
about a hundred classes.
"""

from __future__ import annotations

from flink_large_window_spark import api
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_SMOKE


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, keys) -> None:
    qs = api.queries()
    for key in keys:
        qs[key](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()


def test_second_pass_compiles_no_classes(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    # Batch keys only: a stream run compiles classes whose names change
    # on every run, which no cache size can reuse.
    keys = WORKLOADS["sql_fixture"].keys
    _run_pass(spark, keys)
    before = _compiles(spark)
    _run_pass(spark, keys)
    assert _compiles(spark) - before == 0
