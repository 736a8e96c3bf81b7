"""SparkSession builder tuned for the reconciliation workload.

Local testing runs on ``local[N]`` (one JVM); the same configs are the ones
that matter on a 1000-executor cluster:

- AQE + skew-join: blocking keys over person names are Zipfian ("john ...",
  "the ...") — AQE splits hot post-shuffle partitions at runtime.
- Arrow: every pandas UDF crosses the JVM<->Python boundary in columnar
  batches, not rows.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE coalescing) via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the host's
    physical RAM, capped at 48g. A fixed 48g heap on a 16 GB host let the
    JVM grow until the kernel OOM-killed it; the local-mode driver shares
    the host with the Python workers and the page cache."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(512, min(48 * 1024, phys // 2 // 2**20))}m"


def build_session(
    app_name: str = "metadata_reconciliation_tool_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster → leave a sane default
        n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = int(n) if n.isdigit() else 2 * cpus

    # Shuffle/spill local dirs: prefer tmpfs when available. On a real
    # cluster every executor has its own local SSDs; in this sandbox all
    # local[N] threads share ONE virtio disk, which otherwise becomes the
    # scaling bottleneck the hardware wouldn't have.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        # pandas-UDF batches: large enough to amortize the per-batch Arrow
        # socket round-trip (small batches showed up as JVM kernel-time
        # churn in profiling), small enough to keep per-batch memory bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # scan-split size: the sandbox's test parquet uses ~22 MB row
        # groups, so the 128 MB default packs a whole multi-row-group file
        # into one or two tasks and serializes the scan; 32 MB splits give
        # row-group-granular parallelism. On a production cluster with
        # 128 MB-1 GB files, override via SPARK_GRAFT_MAX_PARTITION_BYTES
        # (guide: larger splits cut scheduling overhead for big sequential
        # scans — the right value tracks the table's row-group size).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        # whole-stage codegen emits ONE method per fused region; HotSpot
        # refuses to JIT methods over ~8 KB of bytecode
        # (-XX:DontCompileHugeMethods), so a fused region between Spark's
        # default fallback threshold (65535) and the JIT limit runs as
        # INTERPRETED BYTECODE — measured 3.4× slower than Spark's own
        # interpreted-expression fallback on this engine's fused
        # blocking+scoring stages (35 s → 10 s for the pair stream).
        # Aligning the fallback threshold with the JIT limit keeps codegen
        # for every region the JVM can actually compile. A JVM constant,
        # not a data-size tune — applies identically on a cluster.
        .config(
            "spark.sql.codegen.hugeMethodLimit",
            os.environ.get("SPARK_GRAFT_HUGE_METHOD_LIMIT", "8000"),
        )
        # generated-class cache, sized to the engine's working set. Spark's
        # default of 100 entries is smaller than one ReconPipeline.run
        # (172 distinct generated classes), and runs request them in the
        # same cyclic order, so the LRU evicted every class just before it
        # was needed again: 0% hit rate, 172 Janino compilations (plus a
        # fresh JIT of each class) on every rerun. An ingest after a
        # bootstrap needs 248 classes, 131 of them not shared with the
        # bootstrap. 1000 leaves room for the compaction and
        # connected-components plan shapes and for a test suite's single
        # shared session. A static conf: it must be set before the session
        # starts. An engine constant like hugeMethodLimit, not a data-size
        # tune.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
