"""SparkSession builder tuned for the extraction workload.

Settings rationale (100 TB design, tested on local[N]):
- AQE on (runtime coalesce + skew-join splitting).
- Arrow on for pandas UDFs; batch size tuned for wide span arrays.
- Nested schema pruning so `spans.text`-only stages don't read media blobs.
- shuffle.partitions sized O(cores x 4) locally; on a real cluster this is
  set to O(total-cores x 2-3) or left to AQE's coalescing from a high value.
- Driver heap and off-heap pool default to a quarter and an eighth of the
  host's RAM (at most 24g / 8g), and local cores to the CPUs this process
  may run on, so a plain caller's session cannot outgrow the machine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ram_share_mb(divisor: int, cap_mb: int) -> str:
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(512, min(cap_mb, ram_mb // divisor))}m"


def _default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "horus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = _default_cpus()
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        # derive from the master's core count when local[N]
        n = cpus
        if master.startswith("local[") and master[6:-1].isdigit():
            n = int(master[6:-1])
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _ram_share_mb(4, 24 << 10),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Tungsten execution memory off-heap: shuffle/sort/join buffers stop
        # churning the GC heap (measured: per-run GC fell from 1-21s to
        # <0.7s on the extraction pipeline and run-to-run variance with it)
        .config("spark.memory.offHeap.enabled", "true")
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_OFFHEAP") or _ram_share_mb(8, 8 << 10),
        )
        # throughput-batch workload: ParallelGC beat G1 ~2x on the regex/
        # struct-heavy interpreted projections (G1 hit 100s+ mixed-GC storms)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_PROBE_SCHEMA = "zip_paths long, zip_importers long, wrapped boolean, reads long"


def _zip_cache_probe(batches):
    """mapInArrow kernel: what this worker's per-task
    ``importlib.invalidate_caches()`` reads once ``horus_spark`` is loaded
    (unpickling this function loads it)."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    importlib.invalidate_caches()  # pyspark's per-task call, check now loaded
    read, archives = zipimport._read_directory, []

    def counted(archive):
        archives.append(archive)
        return read(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    row = {
        "zip_paths": sum(
            os.path.isfile(p) and zipfile.is_zipfile(p) for p in sys.path
        ),
        "zip_importers": sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        ),
        "wrapped": hasattr(zipimport.zipimporter.invalidate_caches, "stdlib"),
        "reads": len(archives),
    }
    yield pa.RecordBatch.from_pylist([row])


def zip_cache_probe(spark: SparkSession) -> dict:
    """Run one Python task and report, from its worker: zip archives on
    ``sys.path``, zip importers (the stdlib re-reads each one per task),
    whether the unchanged-archive check is installed, and the archive
    directories a warm task's cache invalidation reads (0 when it is)."""
    probe = spark.range(1, numPartitions=1).mapInArrow(_zip_cache_probe, _PROBE_SCHEMA)
    return probe.collect()[0].asDict()
