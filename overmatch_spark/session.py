"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """`spark.driver.memory` for this host: SPARK_GRAFT_DRIVER_MEM if
    set, else a quarter of physical RAM, at least 1g and at most 16g.
    In local mode the driver heap also holds the executors, and the
    rest of RAM is left to the Python workers and to the default
    local dir, which is on RAM-backed /dev/shm."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    ram_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return f"{max(1, min(16, int(ram_gib // 4)))}g"


def get_spark(
    app_name: str = "overmatch-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local session. On a real cluster the same engine code
    runs unchanged under ``spark-submit --py-files`` — only the master
    and shuffle-partition count change (shuffle partitions should be
    ~2-3x total cores; at 100 TB, thousands)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when every build-side partition is small (guide §3.1): the
        # engine's equi-joins (cell joins, id anti-joins, band
        # self-joins) all have narrow build sides, and the bound is
        # PER PARTITION — partition counts scale with the cluster, so
        # the knob is scale-safe (a partition bigger than the bound
        # simply stays sort-merge). Measured: removes both sorts from
        # every hot join at sf0.1 with identical results.
        # Memory assumption: a shuffled-hash build side is held in
        # execution memory and does not spill (a build that cannot get
        # its memory fails the task), so every concurrently running
        # task may need up to ~128 MB of it (more once decompressed):
        # cores x 128 MB must fit in execution memory, about
        # (heap - 300 MB) x spark.memory.fraction (0.6). In local mode
        # the heap is driver_memory(): 3g on a 4-core, 15 GB host
        # gives ~1.6 GB for 4 x 128 MB; 32 cores need a ~7g heap.
        # On a cluster the same holds per executor (its cores vs
        # spark.executor.memory).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "128m",
        )
        # Generated-class cache sized to the engine's plan inventory:
        # the default 100-entry cache evicts earlier queries' codegen
        # units as each new operator compiles, so a session running
        # several large plans (conflate -> aggregations -> the ~20-
        # stage knn DAG) RE-compiles evicted units on every repeat
        # execution. Measured: knn's steady repeat dropped 7.5 -> 5.5 s
        # once its units survive between runs. Workload-shaped, not
        # host-shaped: any long-lived app with many distinct query
        # shapes benefits identically; cost is retained generated
        # classes (KBs each).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle/spill on tmpfs: this sandbox's virtual disk has
        # noisy-neighbor latency windows (measured 4x wall swings with
        # identical CPU speed); on a real cluster this is the
        # NVMe-backed local dir the cluster manager provisions
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
