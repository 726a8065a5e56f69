"""Session defaults (horus_spark/session.py) fit the host they run on."""

import os

from horus_spark.session import _default_cpus, _ram_share_mb


def test_default_memory_fits_the_host(spark):
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = int(_ram_share_mb(4, 24 << 10)[:-1])
    off_heap = int(_ram_share_mb(8, 8 << 10)[:-1])
    assert heap <= max(512, ram_mb // 4) and heap <= 24 << 10
    assert off_heap <= max(512, ram_mb // 8) and off_heap <= 8 << 10
    conf = spark.sparkContext.getConf()
    if not os.environ.get("SPARK_DRIVER_MEMORY"):
        assert conf.get("spark.driver.memory") == f"{heap}m"
    if not os.environ.get("SPARK_OFFHEAP"):
        assert conf.get("spark.memory.offHeap.size") == f"{off_heap}m"


def test_ram_share_is_capped_and_floored():
    assert _ram_share_mb(1, 1024) == "1024m"  # any real host has > 1 GB
    assert _ram_share_mb(1 << 40, 8 << 10) == "512m"


def test_default_cores_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert _default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cpus() == 3
