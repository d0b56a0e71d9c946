"""The Python-worker daemon: stamp-keyed zip-importer invalidation, and
the session factory selecting it for every worker."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from biodiversity_data_ingestion_spark import worker_daemon

MODULE = "_worker_daemon_zipped_probe"


def _write_archive(path: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", f"VALUE = {value}\n")


def _import_value() -> int:
    sys.modules.pop(MODULE, None)
    return importlib.import_module(MODULE).VALUE


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    reads = []

    def counting_original(self):
        if self.archive == archive:
            reads.append(self.archive)
        return original(self)

    original = worker_daemon._original_invalidate
    monkeypatch.setattr(worker_daemon, "_original_invalidate", counting_original)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed
    )
    _write_archive(archive, 1)
    monkeypatch.syspath_prepend(archive)
    try:
        assert _import_value() == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        # the first invalidation stamps the importer; an unchanged archive
        # is then never re-read
        importlib.invalidate_caches()
        assert len(reads) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1

        # a rewritten archive (new size and mtime) is re-read, and its new
        # module content is what gets imported
        _write_archive(archive, 12345)
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert _import_value() == 12345
        importlib.invalidate_caches()
        assert len(reads) == 2

        # a deleted archive cannot be stamped: the original path runs
        # every time and nothing raises
        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 4
    finally:
        sys.modules.pop(MODULE, None)
        sys.path_importer_cache.pop(archive, None)


def test_importing_the_daemon_module_starts_nothing():
    # importing must not patch zipimport, import pyspark.daemon or start
    # a manager (which would block on the JVM's stdin and write a port)
    code = (
        "import sys, zipimport\n"
        "import biodiversity_data_ingestion_spark.worker_daemon as w\n"
        "assert zipimport.zipimporter.invalidate_caches is w._original_invalidate\n"
        "assert 'pyspark.daemon' not in sys.modules\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, stdin=subprocess.DEVNULL,
        capture_output=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout == b""


def test_python_workers_run_under_the_engine_daemon(spark):
    # a dropped spark.python.daemon.module line in session.get_spark
    # leaves pyspark's own method in the workers and fails this test
    def kernel(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {
        r["module"]
        for r in spark.range(0, 8, numPartitions=2)
        .mapInPandas(kernel, "module string")
        .collect()
    }
    assert got == {"biodiversity_data_ingestion_spark.worker_daemon"}


def test_worker_daemon_is_selected_only_on_a_local_master(monkeypatch):
    # a cluster ships the package with --py-files, which reaches sys.path
    # only per task, after the daemon starts: there pyspark's own daemon
    # must run, and a driver-side PYTHONPATH must not be sent
    from biodiversity_data_ingestion_spark import session

    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        conf = session._python_worker_conf(master)
        assert conf["spark.python.daemon.module"] == worker_daemon.__name__
        assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
            session._PACKAGE_PARENT, "/elsewhere"
        ]
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert session._python_worker_conf(master) == {}
