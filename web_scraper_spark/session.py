"""SparkSession factory tuned for this engine.

Local sandbox runs on a single JVM (local[N]); the same config block is what
we'd pass to spark-submit on a real multi-executor cluster (see
scripts/run_crawl.py). AQE + adaptive skew join stay on everywhere; shuffle
partitions default to core count locally and should be ~2-3x total cores on
a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_ram_bytes() -> int:
    """Physical RAM, capped by the cgroup memory limit when there is one."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                ram = min(ram, int(f.read().strip()))
        except (OSError, ValueError):
            pass  # no such cgroup file, or "max"
    return ram


def default_memory_mb(ram_bytes: int) -> tuple[int, int]:
    """(driver heap, off-heap) in MB for a machine with `ram_bytes` of RAM:
    half of it for the heap, capped at 48g, and 15% for off-heap Tungsten
    buffers, capped at 16g — so a small box never asks the JVM for more
    than it has, and a big one keeps the 48g/16g the engine is tuned for."""
    mb = ram_bytes >> 20
    return min(48 << 10, mb // 2), min(16 << 10, mb * 15 // 100)


def get_spark(
    app_name: str = "web_scraper_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    heap_mb, offheap_mb = default_memory_mb(machine_ram_bytes())

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # runtime bloom-filter join pruning: a second bloom layer under the
        # explicit sharded seen-set sketches (SURVEY.md §4.2)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # off-heap Tungsten buffers: shuffle/sort/agg pages leave the Java
        # heap, cutting GC pressure when many task threads share one JVM
        # (measured: dedup_admission 7.4s → 5.9s at local[32] together with
        # the local no-compress below). Equally valid on a cluster.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_OFFHEAP", f"{offheap_mb}m"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        # local mode (this factory always builds local[N]): shuffle bytes
        # never cross a network — lz4 work is pure CPU overhead next to
        # NVMe/tmpfs. A cluster spark-submit recipe must keep compression
        # ON (shuffle becomes network-bound there).
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
    )
    # Bench-only: shuffle scratch on tmpfs. local[N] writes every
    # shuffle/spill file to spark.local.dir (default /tmp — here a
    # host-contended virtio disk whose load varies run-to-run and polluted
    # cross-session scaling numbers); /dev/shm is guest DRAM. But tmpfs is
    # RAM-backed and typically capped at 50% of RAM, so a large spill —
    # the exact event spark.local.dir exists to absorb — would consume
    # memory instead of relieving it and can ENOSPC the job. So this is
    # OPT-IN via WSS_SHM_LOCAL_DIR=1 (bench.py / scaling_bench set it);
    # library consumers keep Spark's default local dir. On a real cluster
    # each executor gets node-local NVMe via spark.local.dir /
    # yarn.nodemanager.local-dirs, with compression kept ON.
    if os.environ.get("WSS_SHM_LOCAL_DIR") == "1" and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/wss-spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
