"""The package's Python worker daemon: every Python task runs with the
stat-gated ``zipimporter.invalidate_caches``, an unchanged zip is not
re-read, a changed or added one still is, and workers start when the
driver runs outside the repository with ``PYTHONPATH`` unset."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_tasks_run_with_stat_gated_zip_caches(spark):
    def probe(_):
        import zipimport

        yield getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)

    sc = spark.sparkContext
    assert sc.parallelize(range(2), 2).mapPartitions(probe).collect() == [True, True]


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """Pure Python: with the daemon's patch, ``importlib.invalidate_caches``
    skips an unchanged archive; after the archive is rewritten with an
    added module it is re-read and the new module imports."""
    from tiny_mapreduce_rpc_server_spark import worker_daemon

    archive = str(tmp_path / "tmrs_mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("tmrs_zip_a.py", "A = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import tmrs_zip_a

        assert tmrs_zip_a.A == 1
        reads.clear()
        importlib.invalidate_caches()
        assert archive in reads  # unpatched: every call re-reads

        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
        )
        importlib.invalidate_caches()  # the first check stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("tmrs_zip_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert archive in reads
        import tmrs_zip_b

        assert tmrs_zip_b.B == 2
    finally:
        for name in ("tmrs_zip_a", "tmrs_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_add_py_file_mid_session_is_importable(spark, tmp_path):
    archive = tmp_path / "tmrs_added.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("tmrs_added_mod.py", "VALUE = 41\n")
    sc = spark.sparkContext
    assert sc.parallelize(range(2), 2).map(lambda x: x).count() == 2
    sc.addPyFile(str(archive))

    def probe(_):
        import tmrs_added_mod

        yield tmrs_added_mod.VALUE + 1

    assert sc.parallelize(range(2), 2).mapPartitions(probe).collect() == [42, 42]


def test_get_spark_outside_repo_without_pythonpath(tmp_path):
    """The driver imports the package from sys.path only, runs outside
    the repository with PYTHONPATH unset, and still runs a Python task:
    ``get_spark`` puts the package on the workers' path itself."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from tiny_mapreduce_rpc_server_spark import get_spark
        spark = get_spark("outside_repo")
        print("SUM", spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1).sum())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "SUM 10" in out.stdout, out.stderr[-3000:]
