"""SparkSession factory.

One place to pin the engine-wide execution settings:

- UTC session timezone (the reference is all-UTC strings,
  rds_pgbadger.py:81,120 — see SURVEY.md §7 hard part 3).
- AQE on (adaptive shuffle-partition coalescing + skew-join handling)
  so plans re-shape at runtime when the 100 TB reality diverges from
  the static estimate.
- Arrow on for the few Pandas-UDF paths.
- Shuffle partitions sized to the local core count for tests; on a real
  cluster AQE's coalescing makes the initial number mostly a ceiling.
- Generated classes compiled once per process: Spark keys its JVM-wide
  cache of compiled classes on the generated source, holds
  CODEGEN_CACHE_ENTRIES of them (``spark.sql.codegen.cache.maxEntries``,
  a static setting; Spark's default is 100), and leaves the stage id out
  of the class name (``spark.sql.codegen.useIdInClassName=false``), so
  two identical stages are one source whatever order AQE planned them
  in. Measured on 4 vCPUs with ``tools/codegen_rehearsal.py 4`` (four
  3,410-line ticks, then the 20,460-line backfill): the process needs
  158 distinct classes. With Spark's defaults every warm tick compiled
  ~155 of them again with Janino (788 compiles in all), loaded
  ~330 classes that are never unloaded (metaspace +2.3–4.0 MB per
  tick) and had the JIT compile them anew; with both settings the
  first tick compiles 158, every later tick and the backfill none, and
  metaspace grows 1.1–2.3 MB per tick.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

# Input bytes (on-disk, compressed) per shuffle partition for the
# volume-tracking rule below. Text parquet decompresses ~4x, so 32 MB
# of input is ~128 MB of in-flight rows per task — the classic
# partition-sizing target. Measured basis: the 4x pipeline rehearsal
# (3.66 GB corpus) spilled 356 MB at the fixed local default of 32
# partitions (~73 MB/task on the verify join) and went to zero spill at
# 96; this rule gives it 115 (BENCH_NOTES "pipeline rehearsal").
SHUFFLE_INPUT_BYTES_PER_PARTITION = 32 * 1024 * 1024


def auto_shuffle_partitions(input_bytes: int, cores: int | None = None) -> int:
    """Shuffle-partition count tracking input volume — the same shape as
    ann_index.auto_n_centroids (one rule, no per-run knob): one
    partition per ~SHUFFLE_INPUT_BYTES_PER_PARTITION of input, floored
    at the core count so small inputs still use the whole machine. AQE
    coalesces downward at runtime when a stage's real shuffle is
    smaller, so the number is a spill ceiling, not a latency tax."""
    cores = cores or os.cpu_count() or 8
    return int(max(cores, math.ceil(input_bytes / SHUFFLE_INPUT_BYTES_PER_PARTITION)))


# Entries of Spark's JVM-wide cache of compiled generated classes. An
# LRU smaller than a repeating cycle of plans misses on every entry: a
# cron process cycles through 158 distinct classes and Spark's default
# holds 100. 1,000 leaves room for the ANN and registry plans beside it
# at about 20 KB of metaspace per class.
CODEGEN_CACHE_ENTRIES = 1000


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's codegen
    compile-time histogram counts one per cache miss), read over py4j
    with no job. The difference across a call is that call's compile
    work; a warm process repeating a plan shape should add none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def path_bytes(spark: SparkSession, *paths: str) -> int:
    """Total on-disk bytes under ``paths`` via the Hadoop FileSystem API
    — works on any Spark-reachable FS (local, HDFS, S3A), so the sizing
    rule uses the same listing a cluster deployment would."""
    total = 0
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = hpath.getFileSystem(conf)
        total += fs.getContentSummary(hpath).getLength()
    return total


def size_shuffle_partitions(
    spark: SparkSession, *paths: str, input_bytes: int | None = None
) -> int:
    """Apply :func:`auto_shuffle_partitions` to the live session from
    the actual input volume (``paths`` are listed via the Hadoop FS;
    pass ``input_bytes`` directly when already known).
    ``spark.sql.shuffle.partitions`` is a runtime SQL conf, so entry
    points call this AFTER discovering their inputs and every
    subsequent exchange in the session is sized to the data."""
    if input_bytes is None:
        input_bytes = path_bytes(spark, *paths)
    n = auto_shuffle_partitions(
        input_bytes, cores=spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    # AQE's coalescing works from POST-shuffle read bytes and assumes
    # stages are size-preserving — for a stage that EXPANDS after the
    # exchange (shingle explode, PQ long form) the default 64 MB
    # advisory merges the volume-sized partitions right back down and
    # the expanded working set spills (measured: the 8x pipeline
    # rehearsal's verify join read 767 MB coalesced to 34 tasks and
    # spilled 10.8 GB while spark.sql.shuffle.partitions was 235).
    # Align the advisory with the same byte rule, quartered: post-
    # shuffle data is typically compacted relative to scan-side input,
    # and a 4x expansion margin keeps exploding stages in memory while
    # AQE still coalesces genuinely tiny exchanges.
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        str(SHUFFLE_INPUT_BYTES_PER_PARTITION // 4),
    )
    return n


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes — the size of one
    file-scan split. Rules that pick a plan from input size compare
    against it (logparse.choose_parse_strategy, the driver-side ANN
    search in ann_index). The value Spark itself parsed (any byte-string
    form it accepts: ``134217728``, ``128m``, ``128MB``, ``64kb``), read
    over py4j with no job."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


# Heap ceiling of the default driver: local mode is driver == all
# executors, and a full bench/test session holds the persisted shared
# intermediates (parsed logs, shingle profiles) plus streaming state for
# 70+ queries — an 8g heap spends measurable time in GC by the back half
# of the run.
MAX_DRIVER_MEMORY_MB = 16 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The default driver heap: half the machine's physical memory
    (``MemTotal``), at most MAX_DRIVER_MEMORY_MB. The other half holds
    the JVM's off-heap memory, the Python workers and the OS; a heap at
    or past physical memory lets a large session swap or be killed. A
    machine whose ``meminfo`` cannot be read gets the ceiling."""
    try:
        with open(meminfo) as fh:
            kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{max(512, min(MAX_DRIVER_MEMORY_MB, kb // 2048))}m"


def get_spark(
    app_name: str = "rds-pgbadger-etl-spark",
    cpus: str | int | None = None,
    driver_memory: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``; memory to
    ``$SPARK_GRAFT_DRIVER_MEM`` or :func:`default_driver_memory` (local
    mode: driver == executor).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    driver_memory = driver_memory or os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable;
        # sources/tables.py converts the long ns value to TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark still defaults timestamp OUTPUT to the deprecated INT96
        # physical type, which carries NO min/max statistics — every
        # time-filtered scan of engine-written parquet then reads every
        # row group. MICROS restores footer/row-group pruning (and is
        # what the testdata itself uses).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # compile each generated class once per process (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
