"""Spark resources sized from the host: the heap and core defaults."""

import os

from kmcp_spark.config import default_cores, driver_heap, mem_total_mb


def test_default_heap_is_40pct_of_memtotal_capped_at_16g():
    # a 15.7 GB host: 40% of 16070 MB, pinned
    assert driver_heap(None, 16070) == ("6428m", True)
    # a 64 GB host: the 16 GB cap
    assert driver_heap(None, 65536) == ("16384m", True)
    # unknown host memory keeps the old default
    assert driver_heap(None, None) == ("16g", True)


def test_driver_mem_override_is_kept_and_pinned_only_when_it_fits():
    assert driver_heap("2008m", 16070) == ("2008m", True)
    assert driver_heap("6g", 16070) == ("6g", True)
    # -Xms16g on a 15.7 GB host killed the JVM at start-up
    assert driver_heap("16g", 16070) == ("16g", False)
    assert driver_heap("16g", None) == ("16g", True)


def test_mem_total_reads_meminfo(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16456384 kB\nMemFree:         1000 kB\n")
    assert mem_total_mb(str(p)) == 16070
    assert mem_total_mb(str(tmp_path / "missing")) is None


def test_default_cores_follow_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert default_cores() == 3
