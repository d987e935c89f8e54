"""Driver-facing API: entry / queries / oracle_sql (see __spark_entry__.py).

Importing this module pulls in every operator package, which populates
the registry as a side effect of their @query decorators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Import order is registration order (the tie-break of the driver
# order in contract.py), so keep it stable.
from . import operators as _operators  # noqa: F401  (§2.1–2.6)
from . import functions as _functions  # noqa: F401  (§2.7–2.8)
from . import streaming as _streaming  # noqa: F401  (§2.9)
from . import llm as _llm  # noqa: F401  (§2.10)
from . import sources as _sources  # noqa: F401  (format round-trips)
from . import plans as _plans  # noqa: F401  (skew strategies)
from .contract import in_driver_order
from .registry import ORACLES, REGISTRY
from .tables import DEFAULT_SF_DIR

FLAGSHIP = "agg_hash_grouped"


def entry(spark: SparkSession) -> DataFrame:
    """Run the flagship query (TPC-H Q1 shape) on sf0.001."""
    return REGISTRY[FLAGSHIP](spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Driver order: the driver's checker walks this dict in insertion
    # order and stops after DRIVER_PREFIX_BUDGET keys, so the keys most
    # in need of fresh evidence come first. See contract.py.
    return in_driver_order(REGISTRY)


def oracle_sql() -> dict[str, str]:
    return in_driver_order(ORACLES)
