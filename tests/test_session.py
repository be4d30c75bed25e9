"""Driver-heap sizing in ``session.driver_memory`` and the shuffle-dir
choice in ``session._local_dir`` (no JVM needed).

A heap cap above the host's RAM lets the shared test JVM grow until the
OOM killer takes it, so the default is derived from the usable memory and
an explicit oversize value is reported. A full ``/dev/shm`` moves the
shuffle dirs to disk, which is reported too.
"""

import logging
import os
import tempfile

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
