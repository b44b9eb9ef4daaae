"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are chosen so
the same code scales to a multi-executor cluster: AQE on (runtime
partition coalescing + skew-join splitting), Arrow enabled for every
pandas-UDF kernel, UTC session timezone (oracle comparability), and
shuffle partitions sized to cores locally (overridden to 2-3x total
cores on a real cluster via ``spark-submit --conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-mode heap default sized from the host, not one sandbox.

    32-thread local runs need a large heap (16g spilled ~14GB/stage —
    BENCH/BASELINE.md), but a fixed 48g default would fail JVM startup on
    smaller hosts. Use ~70% of MemTotal capped at 48g, floored at 4g; the
    bench exports SPARK_DRIVER_MEM to pin its own value.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(48, int(total_gb * 0.7)))}g"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "image_search_indexing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so the bench harness can pin parallelism; on a real
    cluster pass ``master=None`` and let ``spark-submit`` decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # ~cores for local mode; a cluster run overrides via --conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = 32 if n in ("*", "") else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the final stage of a persisted frame's plan too
        # (off by default: a reader may then need an exchange the cached
        # partitioning would have spared). The frontier round persists its
        # probe, live queue and scheduled batch, whose readers re-exchange
        # or broadcast anyway; without it they keep shuffle-partitions
        # tasks however few rows a round carries.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode: the driver JVM hosts every executor thread, so the
        # heap must be sized for all concurrent tasks' execution memory —
        # 16g made 32-thread runs spill ~14GB/stage (BENCH/BASELINE.md)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # this sandbox's virtio disk serializes under concurrent IO (32
        # threads anti-scale); shuffle/spill go to tmpfs — on a real cluster
        # spark.local.dir is provisioned per-node SSD and this is overridden
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # spans tables explode ~12x: input splits must be sized by OUTPUT
        # work, not compressed input bytes, or a 130MB table becomes 2 tasks
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_MAX_PARTITION_BYTES", "16m"))
        # NOTE on scan parallelism: single-row-group parquet inputs cannot
        # be split past 1 effective task no matter how splits are sized
        # (splits beyond the row-group start read nothing), so the fix for
        # CPU-heavy stages over small tables is an explicit narrow
        # repartition in the operator (``spread`` below) — NOT a session-
        # wide minPartitionNum floor, which was measured to cost 0.1-0.5 s
        # per multi-row-group relational query in empty-split overhead
        # while fixing nothing (the straggler stayed).
        # zstd + ParallelGC: the fastest measured config on BOTH scaling
        # legs of the r5 13M-doc knob pair (BENCH/BASELINE.md: 40.8k
        # urls/s at local[8], 14.4k at local[2], vs 40.6k/13.5k lz4+G1) —
        # fewer shuffle bytes relieve the memory subsystem that caps
        # wide-leg throughput; throughput GC suits batch executors
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, parts: int | None = None):
    """Round-robin repartition before CPU-heavy per-row work.

    Single-row-group parquet files defeat byte-range splitting: Spark
    plans N splits, but only the split containing the row-group start
    reads any rows, so the whole downstream stage runs as ONE straggler
    task (observed at sf1.0: med 17 ms / max 11.8 s task times on a
    32-split scan of a 1-row-group table). Guide §2.5's unsplittable-
    input remedy: repartition right after the read. Callers apply this
    to the NARROW projection feeding tokenize/hash/decode work, so the
    shuffled bytes are the minimal payload and the expensive stage runs
    at full width. Sized from the session's parallelism, never a local
    constant; the exchange is row-count-bounded and tiny next to the
    per-row work it parallelizes.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(parts or sc.defaultParallelism)
