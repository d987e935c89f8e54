"""The Python worker daemon that ``session.get_spark`` installs.

``pydaemon`` changes ``zipimporter.invalidate_caches`` (CPython < 3.12)
so that Spark's per-task ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed on disk. These
tests pin that rule on a temp archive, pin that a ``get_spark``
session's workers really run under the daemon, and pin that workers
import the package from a cwd outside the repository with no
``PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from flink_large_window_spark import pydaemon

from tests.conftest import SF_SMOKE, _REPO_ROOT

_PATCHED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not _PATCHED, reason="CPython >= 3.12 is not patched")
def test_zip_archive_is_reread_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pydaemon_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pydaemon_zmod_a", "pydaemon_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pydaemon_zmod_a").X == 1

    importlib.invalidate_caches()  # first sight of the archive: stamped
    files = zipimport._zip_directory_cache[archive]
    for _ in range(3):
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is files

    # the addPyFile case: the archive is rewritten with a new module
    _write_zip(
        archive, {"pydaemon_zmod_a": "X = 1\n", "pydaemon_zmod_b": "Y = 2\n"}
    )
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module("pydaemon_zmod_b").Y == 2
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files


@pytest.mark.parametrize("version", [None, (3, 12, 0, "final", 0)])
def test_patch_applies_only_below_python_3_12(version):
    """Import the module in a fresh interpreter, with ``sys.version_info``
    set to ``version`` when one is given, and report who owns
    ``zipimporter.invalidate_caches``."""
    fake = f"sys.version_info = {version!r}; " if version else ""
    code = (
        f"import sys; {fake}import zipimport; "
        "import flink_large_window_spark.pydaemon; "
        "print(zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO_ROOT, capture_output=True,
        text=True, check=True,
    ).stdout.strip()
    patched = (version or sys.version_info) < (3, 12)
    assert out == ("flink_large_window_spark.pydaemon" if patched else "zipimport")


def test_get_spark_workers_run_under_the_package_daemon(spark):
    """A dropped ``spark.python.daemon.module`` conf would fall back to
    ``pyspark.daemon`` silently; a worker reports the module it was
    forked from and who owns ``zipimporter.invalidate_caches``."""

    def report(it):
        import sys
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"main": [sys.modules["__main__"].__file__],
             "patch": [fn.__code__.co_filename]}
        )

    [row] = spark.range(1, numPartitions=1).mapInPandas(
        report, "main string, patch string"
    ).collect()
    assert os.path.samefile(row.main, pydaemon.__file__)
    if _PATCHED:
        assert os.path.samefile(row.patch, pydaemon.__file__)


def test_stateful_key_passes_from_foreign_cwd_without_pythonpath(tmp_path):
    """One ``applyInPandasWithState`` key checked against its DuckDB
    oracle by a fresh driver whose cwd is outside the repository and
    whose environment has no ``PYTHONPATH``: the workers must find the
    package (and the daemon module) through the session's conf alone."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable, os.path.join(_REPO_ROOT, "tests", "check_oracle.py"),
            "--sf", SF_SMOKE, "pattern_detect_cep_stream",
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "1/1 green" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-2000:]
    )
