"""The session module: the core-count default (no session is started)
and the zip-rescan fix, in-process and in a worker of the shared test
session."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pears_lite_spark.session import default_cpus


@pytest.mark.parametrize("env", [None, ""])
def test_default_cpus_unset_is_the_affinity_count(monkeypatch, env):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_honours_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """Importing the package makes importlib.invalidate_caches() leave
    an unchanged zip archive's directory alone after the first call,
    and still re-read it once the archive is rewritten."""
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"zipfix_a": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    try:
        assert importlib.import_module("zipfix_a").X == 1
        importlib.invalidate_caches()
        first = reads.count(arc)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(arc) == first
        _write_zip(arc, {"zipfix_a": "X = 1\n", "zipfix_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zipfix_b").Y == 2
    finally:
        for m in ("zipfix_a", "zipfix_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(arc, None)


def test_worker_task_skips_unchanged_zip_rescans(spark):
    """In a Python worker that has imported the package (as unpickling
    any engine kernel does), a second invalidate_caches() re-reads no
    archive: pyspark.zip's importers keep their directory."""
    import pyarrow as pa

    def kernel(batches):
        import importlib
        import zipimport
        import pears_lite_spark  # noqa: F401
        importlib.invalidate_caches()
        n = [0]
        real = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays([pa.array([n[0]])],
                                         names=["rereads"])

    rows = spark.range(1, numPartitions=1).mapInArrow(
        kernel, "rereads long").collect()
    assert [r["rereads"] for r in rows] == [0]
