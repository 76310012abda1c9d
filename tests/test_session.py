"""Session factory sizing rules — auto_shuffle_partitions tracks input
volume (the r8 pipeline-rehearsal residual: 3.66 GB at the fixed local
default of 32 partitions spilled 356 MB; the rule must size that input
past the measured zero-spill point without any per-run knob)."""

from __future__ import annotations

import math
import os

from rds_pgbadger_etl_spark import session as SES


def test_auto_shuffle_partitions_rule():
    # floored at cores for small inputs
    assert SES.auto_shuffle_partitions(0, cores=32) == 32
    assert SES.auto_shuffle_partitions(10**6, cores=32) == 32
    # the measured basis: 3.66 GB (4x pipeline rehearsal) must land at
    # or past 96 partitions — the hand-set value that took spill to zero
    four_x = int(3.66 * 2**30)
    assert SES.auto_shuffle_partitions(four_x, cores=32) >= 96
    # ~one partition per SHUFFLE_INPUT_BYTES_PER_PARTITION once volume
    # dominates the core floor
    n = SES.auto_shuffle_partitions(100 * 2**30, cores=32)
    assert n == math.ceil(100 * 2**30 / SES.SHUFFLE_INPUT_BYTES_PER_PARTITION)
    # monotone non-decreasing in input volume
    sizes = [2**p for p in range(20, 45)]
    parts = [SES.auto_shuffle_partitions(b, cores=32) for b in sizes]
    assert parts == sorted(parts)
    # never below the core count, whatever the input
    assert all(p >= 32 for p in parts)


def test_size_shuffle_partitions_applies_to_session(spark, tmp_path):
    import pyspark.sql.functions as F

    p = str(tmp_path / "vol")
    spark.range(10_000).select(
        F.col("id"), F.lpad(F.lit("x"), 100, "y").alias("pad")
    ).write.mode("overwrite").parquet(p)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # path listing goes through the Hadoop FS API (cluster-portable)
        n_bytes = SES.path_bytes(spark, p)
        assert n_bytes > 0
        n = SES.size_shuffle_partitions(spark, p)
        assert n == SES.auto_shuffle_partitions(
            n_bytes, cores=spark.sparkContext.defaultParallelism
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        # a large declared volume must raise the setting past the floor
        big = SES.size_shuffle_partitions(
            spark, input_bytes=1024 * SES.SHUFFLE_INPUT_BYTES_PER_PARTITION
        )
        assert big == 1024
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1024"
        # AQE's advisory follows the same byte rule (quartered) so
        # coalescing cannot undo the sizing on post-shuffle reads
        assert spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ) == str(SES.SHUFFLE_INPUT_BYTES_PER_PARTITION // 4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_max_partition_bytes_reads_every_spark_byte_string(spark):
    """The conf is read as Spark parses it: plain bytes, one-letter and
    two-letter suffixes in either case (``128MB`` and ``64kb`` are as
    valid as ``128m``); unset means Spark's 128 MiB default."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    try:
        for raw, want in [
            ("128MB", 128 * 2**20),
            ("64kb", 64 * 2**10),
            ("4m", 4 * 2**20),
            ("1g", 2**30),
            ("1024", 1024),
        ]:
            spark.conf.set(key, raw)
            assert SES.max_partition_bytes(spark) == want, raw
        spark.conf.unset(key)
        assert SES.max_partition_bytes(spark) == 128 * 2**20
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_default_driver_heap_is_below_physical_memory(spark, tmp_path):
    """get_spark's default heap is half the machine's MemTotal, capped
    at MAX_DRIVER_MEMORY_MB: below physical memory on this machine, and
    on a small and a large one described by a meminfo file."""
    with open("/proc/meminfo") as fh:
        total_kb = next(
            int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
        )
    heap = SES.default_driver_memory()
    assert heap.endswith("m") and int(heap[:-1]) * 1024 < total_kb
    small = tmp_path / "small"
    small.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")
    assert SES.default_driver_memory(str(small)) == "7680m"
    large = tmp_path / "large"
    large.write_text("MemTotal:       268435456 kB\n")
    assert SES.default_driver_memory(str(large)) == f"{SES.MAX_DRIVER_MEMORY_MB}m"
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        # the session built with no heap argument carries the default
        assert spark.sparkContext.getConf().get("spark.driver.memory") == heap
