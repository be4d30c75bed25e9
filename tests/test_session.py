"""Driver-heap sizing in ``session.driver_memory``, the shuffle-dir
choice in ``session._local_dir`` and the worker daemon of
``hipporag_spark.pyworker``.

A heap cap above the host's RAM lets the shared test JVM grow until the
OOM killer takes it, so the default is derived from the usable memory and
an explicit oversize value is reported. A full ``/dev/shm`` moves the
shuffle dirs to disk, which is reported too. The worker daemon skips
re-reading unchanged zip archives on every task, but a changed or newly
added zip must still import. Only the last test starts Spark.
"""

import importlib.util
import logging
import os
import tempfile
import zipfile
import zipimport

from hipporag_spark import session
from hipporag_spark.session import (
    _memory_string_bytes,
    driver_memory,
    usable_memory_bytes,
)


def test_default_is_half_of_usable_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    usable = usable_memory_bytes()
    heap = _memory_string_bytes(driver_memory())
    assert heap >= 1 << 30
    assert heap <= usable
    assert heap <= max(1 << 30, usable // 2)


def test_explicit_value_passes_through(monkeypatch, caplog):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "768m")
    with caplog.at_level(logging.WARNING, logger="hipporag_spark.session"):
        assert driver_memory() == "768m"
    assert not caplog.records


def test_explicit_value_above_host_memory_warns(monkeypatch, caplog):
    usable_gib = usable_memory_bytes() >> 30
    too_big = f"{usable_gib + 1}g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", too_big)
    with caplog.at_level(logging.WARNING, logger="hipporag_spark.session"):
        assert driver_memory() == too_big
    [record] = caplog.records
    assert record.levelno == logging.WARNING
    assert too_big in record.getMessage()
    assert f"{usable_memory_bytes() / 2**30:.1f} GiB" in record.getMessage()


def test_local_dir_fallback_from_full_shm_warns(monkeypatch, caplog):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session.os.path, "isdir", lambda p: True)
    full = os.statvfs_result((4096, 4096, 1 << 20, 100, 100, 0, 0, 0, 0, 255))
    monkeypatch.setattr(session.os, "statvfs", lambda p: full)
    with caplog.at_level(logging.WARNING, logger="hipporag_spark.session"):
        assert session._local_dir() == tempfile.gettempdir()
    [record] = caplog.records
    assert record.levelno == logging.WARNING
    assert "/dev/shm" in record.getMessage()
    assert tempfile.gettempdir() in record.getMessage()


def test_daemon_module_only_where_its_python_finds_the_package(monkeypatch, tmp_path):
    """The daemon's ``python -m`` runs in the driver's working directory
    with its ``PYTHONPATH``; elsewhere every Python task would fail."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._daemon_conf() == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._daemon_conf() == {"spark.python.daemon.module": "hipporag_spark.pyworker"}
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._daemon_conf() == {"spark.python.daemon.module": "hipporag_spark.pyworker"}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zipimporter_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from hipporag_spark.pyworker import invalidate_caches_if_changed

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"hs_probe_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", invalidate_caches_if_changed)

    importer.invalidate_caches()  # no stamp yet: reads once
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("hs_probe_b") is None

    _write_zip(archive, {"hs_probe_a": "VALUE = 1\n", "hs_probe_b": "VALUE = 22\n"})
    importer.invalidate_caches()
    assert reads == [archive, archive]
    spec = importer.find_spec("hs_probe_b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == 22


def test_workers_use_package_daemon_and_import_added_zip(spark, tmp_path):
    """Under ``get_spark`` the worker tasks run the package's
    ``invalidate_caches`` (by ``__qualname__``: the daemon module's
    ``__name__`` is ``__main__``), and a zip added with ``addPyFile``
    after earlier tasks ran still imports in a later task."""
    sc = spark.sparkContext
    # lambdas: the workers cannot import this test module by name
    qualname = lambda _: zipimport.zipimporter.invalidate_caches.__qualname__
    names = sc.parallelize(range(8), 8).map(qualname).distinct().collect()
    assert names == ["invalidate_caches_if_changed"]

    archive = str(tmp_path / "hs_added_probe.zip")
    _write_zip(archive, {"hs_added_probe": "VALUE = 7\n"})
    sc.addPyFile(archive)
    imported = sc.parallelize(["hs_added_probe"] * 8, 8).map(lambda m: importlib.import_module(m).VALUE)
    assert imported.collect() == [7] * 8
