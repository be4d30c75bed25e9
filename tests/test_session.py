"""Driver-heap sizing in ``session.driver_memory`` (no JVM needed).

A heap cap above the host's RAM lets the shared test JVM grow until the
OOM killer takes it, so the default is derived from the usable memory and
an explicit oversize value is reported.
"""

import logging

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
