"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (local[N] threads, single JVM); the
same settings minus master/driver-memory are what a spark-submit deploy
would use on a real cluster. Shuffle partitions default to ~cores (the
200 default over-parallelizes small local runs and under-parallelizes
100 TB ones — production jobs should set this per stage volume).
"""

from __future__ import annotations

import os


def choose_local_dir(shm: str = "/dev/shm") -> str | None:
    """Shuffle/spill dir election. /dev/shm is only chosen when it can
    actually hold a shuffle: containers commonly cap it at 64 MB (Docker
    default), where the first real spill dies with cryptic no-space-left
    errors and the RAM-backed files compete with the driver heap for
    host memory (r2 advice). Floor tunable via SPARK_GRAFT_SHM_MIN_BYTES
    for deployments with known shuffle volumes; None means "keep Spark's
    default local dir"."""
    explicit = os.environ.get("SPARK_LOCAL_DIRS")
    if explicit is not None:
        return explicit
    if not os.path.isdir(shm):
        return None
    floor = int(os.environ.get("SPARK_GRAFT_SHM_MIN_BYTES", str(2 << 30)))
    try:
        st = os.statvfs(shm)
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < floor:
        return None
    return os.path.join(shm, "spark-local")


def _malloc_retention_env() -> None:
    """Make glibc RETAIN large freed buffers instead of returning them to
    the kernel (raised mmap threshold + effectively-disabled trim).

    Why: Arrow batches and NumPy kernel buffers in this engine are
    multi-MB, above glibc's default 128 KB mmap threshold, so every
    alloc/free cycle is an mmap/munmap — and every re-allocation re-pays
    kernel page zeroing. On hosts where fault-in is slow (this sandbox
    zeroes at ~90 MB/s/proc — measured 1.4-2.9 s to first-touch 256 MB —
    vs ~20 GB/s to copy already-mapped pages), that tax dominates Arrow
    UDF stages: an identical 13.5k-pair verify measured 7 s / 23 s / 7 s
    across three back-to-back runs purely from buffer re-faulting.
    Retention trades resident memory (bounded by per-worker peak, which
    the Arrow batch size caps) for allocation stability — the standard
    allocator posture for long-lived numeric workers.

    Must run BEFORE the JVM launches: Python workers are forked by the
    JVM and inherit its environment. setdefault keeps any explicit
    operator-provided values.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(16 << 30))
    os.environ.setdefault("MALLOC_TOP_PAD_", str(128 << 20))


def default_driver_memory() -> str:
    """Driver heap when SPARK_DRIVER_MEMORY is unset: a quarter of physical
    memory, at least 1g and at most 16g. The heap is pre-touched whole at
    start-up (see get_spark), so a fixed size larger than the host cannot
    even start: the JVM fails to map it and leaves an hs_err_pid*.log."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1 << 10, min(16 << 10, (ram >> 20) // 4))}m"


def get_spark(app_name: str = "frizbee-spark", cores: int | None = None, extra: dict | None = None):
    from pyspark.sql import SparkSession

    _malloc_retention_env()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    # Partition sizing: Arrow-UDF stages cost ~CPU per byte, far above the
    # JVM-scan costs Spark's defaults assume, so both the scan split size
    # and the AQE coalesce target are set small (16m vs the 128m/64m
    # defaults). Otherwise a checkpoint read-back or post-join AQE
    # coalesce folds a whole UDF stage into 1-2 tasks and wall time stops
    # responding to cores (measured: signatures 13s flat from 8 to 32
    # cores before this change). At 100 TB the same knob keeps one task
    # per parquet row-group-ish split — thousands of tasks, which is the
    # correct shape there too.
    split = os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "16m")
    # Shuffle/spill storage: the sandbox root disk writes at ~120 MB/s —
    # one shared spindle would serialize every shuffle regardless of core
    # count, which misrepresents a real cluster where local shuffle SSDs
    # scale per node. Use the RAM-backed /dev/shm when present (standard
    # practice: put spark.local.dir on the fastest local storage).
    local_dir = choose_local_dir()
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.default.parallelism", str(max(cores, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", split)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", driver_mem)
        # Pre-touch the WHOLE heap at startup (Xms = Xmx + AlwaysPreTouch):
        # on slow-fault hosts (see _malloc_retention_env) G1's evacuation
        # copies into newly-committed regions whose pages fault in DURING
        # the pause — measured young-GC pauses of 6-18 s on this sandbox
        # with a lazily-grown heap, vs 28 ms max once fully pre-touched.
        # The heap is sized by default_driver_memory so the one-time
        # pre-touch stays short and G1 collects instead of growing;
        # execution/storage overflow spills to spark.local.dir as usual.
        # Override via SPARK_DRIVER_MEMORY.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", split)
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if os.environ.get("SPARK_GRAFT_EVENTLOG"):
        ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark-events")
        os.makedirs(ev_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev_dir)
            .config("spark.eventLog.compress", "true")
        )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    # ad-hoc conf overrides for experiments: "k=v;k=v" — applied LAST so
    # they actually override the defaults above (builder.config is
    # last-write-wins)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
