"""SparkSession builder for tests and bench (driver owns its own session).

Python workers run under :mod:`flink_large_window_spark.pydaemon`
(``spark.python.daemon.module``): Spark's ``invalidate_caches()`` on
every task otherwise re-reads each zip archive on the workers'
``sys.path`` (``pyspark.zip``, py4j, the spark-core jar), about 0.2 s
of CPU per task on CPython < 3.12. ``spark.executorEnv.PYTHONPATH``
puts the package's parent directory on the workers' path, so the
daemon and the handlers import from any cwd.
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
        # Arrow speeds up toPandas / pandas UDF exchange (the only
        # Python-side hot paths we allow).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # prep sets the session time zone and shuffle width
    return prep(builder.getOrCreate())
