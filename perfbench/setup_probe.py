#!/usr/bin/env python3
"""Time one set-up in a fresh process and print its seconds.

    python3 perfbench/setup_probe.py

A set-up is what ``run.py`` times as ``setup_s``: import the package and
start its session with ``session.get_spark``. The JVM, the only process
it starts, has ended before this exits.
``run.py`` calls this with its environment already configured, so that
``setup_s`` can be the median of several set-ups in one run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import ROOT, setup_session  # noqa: E402


def main() -> int:
    sys.path.insert(0, ROOT)
    spark, _, seconds = setup_session()
    # Nothing ran in this session, so the JVM (its only process) is
    # killed rather than stopped cleanly, which takes longer.
    jvm = spark.sparkContext._gateway.proc
    jvm.kill()
    jvm.wait(timeout=60)
    print(repr(seconds))
    return 0


if __name__ == "__main__":
    sys.exit(main())
