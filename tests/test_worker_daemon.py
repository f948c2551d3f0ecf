"""The Python worker daemon (worker_daemon.py) and the worker set-up
``session.get_spark`` gives it: archive re-reads, the patch's reach, and
workers importing the driver's copy of the package."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from map_reduce_engine_spark import worker_daemon

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def patched_zipimport(monkeypatch):
    """``worker_daemon.install()`` in this process, undone at teardown, with
    every ``zipimport._read_directory`` call counted."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting_read_directory(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read_directory)
    worker_daemon.install()
    return reads


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``wd_probe_a``; the probe modules and
    the zip's path-importer entries are dropped at teardown."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"wd_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(patched_zipimport, probe_zip):
    assert importlib.import_module("wd_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # the first one stamps the archive
    del patched_zipimport[:]
    importlib.invalidate_caches()
    assert patched_zipimport.count(probe_zip) == 0


def test_rewritten_archive_is_reread(patched_zipimport, probe_zip):
    importlib.import_module("wd_probe_a")
    importlib.invalidate_caches()
    _write_zip(probe_zip, {"wd_probe_a": "VALUE = 'a'\n", "wd_probe_b": "VALUE = 'b'\n"})
    del patched_zipimport[:]
    importlib.invalidate_caches()
    assert importlib.import_module("wd_probe_b").VALUE == "b"
    # CPython >= 3.13 reads lazily at the import, older versions in the
    # invalidation: once either way
    assert patched_zipimport.count(probe_zip) == 1


def test_importing_the_daemon_module_patches_nothing(spark):
    """Neither importing the module nor building a session patches the driver."""
    importlib.reload(worker_daemon)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the daemon installs nothing on 3.13+")
def test_daemon_is_live_in_workers(spark):
    def probe(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1).mapInPandas(probe, "module string").collect()
    assert {r.module for r in rows} == {"map_reduce_engine_spark.worker_daemon"}


def test_map_reduce_runs_from_outside_the_repo_root(tmp_path):
    """A driver started in another directory, with PYTHONPATH unset, finds the
    package by ``sys.path.insert``; its Python workers must find it too."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from map_reduce_engine_spark.mapreduce import wordcount_job
        from map_reduce_engine_spark.session import get_spark

        spark = get_spark(cpus=1)
        df = spark.createDataFrame([("b a b",)], ["value"])
        print(sorted((r.key, r.value) for r in wordcount_job(df).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "[('a', 1), ('b', 2)]"
