"""Print the driver-window ledger that ``api.queries()`` is ordered by.

One row per registered key, in driver order: the newest round with
driver evidence (``-`` = never checked) and whether the key's
implementation file changed since that round's marker commit. The
first DRIVER_PREFIX_BUDGET rows are what the driver's next sweep
checks. The ledger itself is computed in
``flink_large_window_spark/contract.py``.

    python tools/staleness.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import flink_large_window_spark.api  # noqa: E402, F401  (fills the registry)
from flink_large_window_spark.contract import (  # noqa: E402
    DRIVER_PREFIX_BUDGET,
    ledger,
)


def main() -> None:
    print(f"{'#':>4s} {'key':40s} {'evidence':>8s} {'changed':>7s}")
    for i, (key, evidence, changed) in enumerate(ledger(), 1):
        ev = "-" if evidence is None else f"r{evidence}"
        print(f"{i:4d} {key:40s} {ev:>8s} {'yes' if changed else '':>7s}")
        if i == DRIVER_PREFIX_BUDGET:
            print("---- end of the driver window ----")


if __name__ == "__main__":
    main()
