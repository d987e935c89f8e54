"""SparkSession builder for tests and bench (driver owns its own session).

Python workers run under :mod:`flink_large_window_spark.pydaemon`
(``spark.python.daemon.module``): Spark's ``invalidate_caches()`` on
every task otherwise re-reads each zip archive on the workers'
``sys.path`` (``pyspark.zip``, py4j, the spark-core jar), about 0.2 s
of CPU per task on CPython < 3.12. ``spark.executorEnv.PYTHONPATH``
puts the package's parent directory on the workers' path, so the
daemon and the handlers import from any cwd.

``spark.sql.codegen.cache.maxEntries`` is 1,024. Spark keeps the
classes Janino compiles for a query in an LRU cache of 100 entries by
default, and one pass of the benchmark's nine ``sql_fixture`` keys
generates 132 distinct classes (the 38-key ``bench.py`` headline, 520),
so each class was evicted before its key ran again and every warm run
paid Janino and then the JIT for the same code. It is a static conf:
it takes effect only when the session is built here, and a driver's
own bare session keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tables import prep

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def get_spark(app_name: str = "flink-large-window-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Compiled-class LRU: Spark's default of 100 is below one pass's
        # working set (132 classes for sql_fixture's 9 keys, 520 for the
        # 38-key bench.py headline), so repeated keys recompiled.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Arrow speeds up toPandas / pandas UDF exchange (the only
        # Python-side hot paths we allow).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # prep sets the session time zone and shuffle width
    return prep(builder.getOrCreate())
