"""Session invariants: Python tasks do not re-read zip archives, and
the daemon module imports from any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from geo_inference_spark import _worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY_ZIP_DIRECTORY = sys.version_info >= (3, 13)


@pytest.mark.skipif(LAZY_ZIP_DIRECTORY, reason="CPython >= 3.13 reads lazily")
def test_python_task_does_not_reread_zip_archives(spark):
    def count_reads(it):
        """Zip directory reads done by two cache invalidations inside
        a task, and the number of live zipimporters."""
        import importlib
        import sys
        import zipimport

        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        live = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield len(reads), live

    out = spark.sparkContext.parallelize(range(4), 4).mapPartitions(
        count_reads).collect()
    assert len(out) == 4
    for reads, live in out:
        assert live > 0  # pyspark.zip and the Spark jar are on sys.path
        assert reads == 0, out


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.mark.skipif(LAZY_ZIP_DIRECTORY, reason="patch is off on >= 3.13")
def test_stat_checked_invalidate_rereads_only_changed_archive(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _worker_daemon.stat_checked(zipimport.zipimporter.invalidate_caches))
    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_a").X == 1
        importlib.invalidate_caches()  # first stamp: one read
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: no re-read
        _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1  # changed archive: re-read once
        assert importlib.import_module("zmod_b").Y == 2
    finally:
        for m in ("zmod_a", "zmod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_daemon_module_imports_outside_the_checkout(tmp_path):
    """A driver started elsewhere, with the engine on its sys.path but
    not on PYTHONPATH, still runs pandas UDFs: get_spark puts the
    engine's root on the workers' PYTHONPATH for the daemon module."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from geo_inference_spark.session import get_spark

        spark = get_spark("daemon-cwd", cores=2)
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        rows = spark.range(4).select(plus_one("id").alias("v")).collect()
        print("RESULT", sorted(r.v for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_NO_WORKER_WARM="1", SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300)
    assert "RESULT [1, 2, 3, 4]" in proc.stdout, proc.stderr[-4000:]

