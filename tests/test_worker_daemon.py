"""The engine's Python worker daemon (worker_daemon.py) and the session
wiring around it: an unchanged zip archive is not re-read on
``importlib.invalidate_caches()``, a rewritten one is, engine-built local
sessions fork their workers from the daemon, external sessions keep the
stock one, and every process ships its own package zip."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from kafka_map_reduce_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13+ invalidates zip caches lazily")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    # register the originals so monkeypatch restores them after install()
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_daemon, "_READ_STAMPS", {})
    assert worker_daemon.install()

    archive = str(tmp_path / "kmr_daemon_probe.zip")
    # a package gives the archive two importers: "<zip>" and "<zip>/pkg"
    _write_zip(archive, {
        "kmr_probe_pkg/__init__.py": "",
        "kmr_probe_pkg/a.py": "X = 1\n",
    })
    monkeypatch.syspath_prepend(archive)
    names = ("kmr_probe_pkg", "kmr_probe_pkg.a", "kmr_probe_pkg.b")
    try:
        assert importlib.import_module("kmr_probe_pkg.a").X == 1
        importers = [
            v for k, v in sys.path_importer_cache.items()
            if k.startswith(archive)
        ]
        assert len(importers) == 2
        assert reads.count(archive) == 1

        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {
            "kmr_probe_pkg/__init__.py": "",
            "kmr_probe_pkg/a.py": "X = 1\n",
            "kmr_probe_pkg/b.py": "Y = 2\n",
        })
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # one read, shared by both
        assert importlib.import_module("kmr_probe_pkg.b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_local_session_workers_skip_unchanged_zip_rereads(spark):
    """Two consecutive tasks on one reused worker: the second one's
    set-up (PySpark's per-task importlib.invalidate_caches) went through
    the engine's invalidate_caches and read no archive directory."""
    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13+ keeps the stock daemon path")

    def probe(batches):
        """Counts the directory reads this worker has made since its
        first probe task, and names the file that defines its
        zipimporter.invalidate_caches."""
        import os
        import zipimport

        import pandas as pd

        first = not hasattr(zipimport, "_kmr_probe_reads")
        if first:
            stock_read = zipimport._read_directory
            zipimport._kmr_probe_reads = []

            def counting_read(archive):
                zipimport._kmr_probe_reads.append(archive)
                return stock_read(archive)

            zipimport._read_directory = counting_read
        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "first": [first],
            "reads": [len(zipimport._kmr_probe_reads)],
            "defined_in": [os.path.basename(code.co_filename)],
        })

    seen = {}
    for _ in range(16):
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(
                probe,
                "pid long, first boolean, reads long, defined_in string",
            )
            .collect()
        )
        assert row.defined_in == "worker_daemon.py"
        if not row.first:
            assert row.pid in seen
            assert row.reads == 0
            return
        seen[row.pid] = row
    pytest.fail(f"no worker ran two probe tasks: {sorted(seen)}")


def test_get_session_sets_daemon_confs_for_local_master(spark):
    conf = spark.sparkContext.getConf()
    assert (
        conf.get("spark.python.daemon.module")
        == "kafka_map_reduce_spark.worker_daemon"
    )
    assert conf.get("spark.executorEnv.PYTHONPATH") == REPO


_EXTERNAL_SESSION = """
from pyspark.sql import SparkSession
from kafka_map_reduce_spark import configure

def probe(batches):
    import zipimport
    import pandas as pd
    yield pd.DataFrame({"f": [zipimport.zipimporter.invalidate_caches.__module__]})

spark = configure(
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()
)
conf = spark.sparkContext.getConf()
print(conf.get("spark.python.daemon.module", "-"))
print(conf.get("spark.executorEnv.PYTHONPATH", "-"))
print(spark.range(1, numPartitions=1).mapInPandas(probe, "f string").first().f)
spark.stop()
"""


def test_configure_on_external_session_keeps_stock_daemon(tmp_path):
    """configure() on a session the engine did not build sets neither
    daemon conf, and its Python tasks run on the stock daemon."""
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _EXTERNAL_SESSION],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["-", "-", "zipimport"]


def test_package_zip_is_unique_per_process(tmp_path):
    from kafka_map_reduce_spark.session import _package_zip

    mine = _package_zip()
    assert _package_zip() != mine
    with zipfile.ZipFile(mine) as z:
        assert "kafka_map_reduce_spark/session.py" in z.namelist()
    other = subprocess.run(
        [
            sys.executable, "-c",
            "from kafka_map_reduce_spark.session import _package_zip;"
            "import os; p = _package_zip(); print(p, os.path.exists(p))",
        ],
        capture_output=True, text=True, timeout=120,
        env=dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmp_path)),
    )
    assert other.returncode == 0, other.stderr[-2000:]
    path, existed = other.stdout.split()
    assert existed == "True" and path != mine
    assert not os.path.exists(path)  # removed when that process exited
