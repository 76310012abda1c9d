"""Compile work per cron tick in one long-lived process.

Spark compiles each generated class (a whole-stage pipeline, a
projection, an ordering) with Janino, loads it into the JVM and lets the
JIT compile it again; a JVM-wide cache keyed on the generated source
makes a repeated plan shape skip all three. This rehearsal shows whether
the cron path repeats: it runs ``ticks`` ``run_incremental`` ticks of
the same size (perfbench's 2,000-entry, 3,410-line hour files, one new
hour per tick, the first tick cold) and then perfbench's backfill
(``run_pipeline`` with the HTML report over three 4,000-entry hours) in
one process, and prints one JSON line per step:

- ``cpu_s``: CPU seconds of this process, its JVM and the JVM's Python
  workers;
- ``compiles``: generated classes compiled (Spark's codegen metrics;
  ``session.codegen_compiles``);
- ``jit_ms``: the JVM's JIT compile time (``CompilationMXBean``);
- ``classes_loaded``: classes the JVM loaded (``ClassLoadingMXBean``);
- ``metaspace_kb``: metaspace in use after the step, and its growth over
  the step as ``metaspace_growth_kb``.

A last line sums ``compiles`` and ``cpu_s`` over the process. With the
session's codegen cache holding the process's working set, every tick
after the first compiles nothing and the backfill compiles only what
the ticks did not already build.

Usage:  python tools/codegen_rehearsal.py [ticks]   (default 4)
The logs and outputs live under $REHEARSAL_DIR (default
/tmp/codegen_rehearsal), which each run rewrites.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/codegen_rehearsal")
REF_DT = datetime(2030, 1, 1)  # every generated hour is closed
TICK_ENTRIES = 2000
BACKFILL_FILES = 3
BACKFILL_ENTRIES = 4000
SEED = 7


def _jvm_counters(spark) -> dict[str, float]:
    """Compile, class-loading and metaspace counters of the session's
    JVM, read over py4j with no job."""
    from rds_pgbadger_etl_spark.session import codegen_compiles

    mf = spark._jvm.java.lang.management.ManagementFactory
    metaspace = next(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getName() == "Metaspace"
    )
    return {
        "compiles": codegen_compiles(spark),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "metaspace_kb": metaspace // 1024,
    }


def main() -> None:
    from perfbench import loggen
    from perfbench.cpu import tree_seconds

    from rds_pgbadger_etl_spark.cli import run_incremental, run_pipeline
    from rds_pgbadger_etl_spark.session import get_spark

    ticks = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    shutil.rmtree(BASE, ignore_errors=True)
    staging = os.path.join(BASE, "staging")
    logs = os.path.join(BASE, "cron", "logs")
    backfill_logs = os.path.join(BASE, "backfill", "logs")
    os.makedirs(logs)
    loggen.write_hours(backfill_logs, range(BACKFILL_FILES), BACKFILL_ENTRIES, SEED)
    names = sorted(
        loggen.write_hours(
            staging, range(BACKFILL_FILES, BACKFILL_FILES + ticks), TICK_ENTRIES, SEED
        )
    )

    spark = get_spark(
        app_name="codegen-rehearsal",
        cpus=len(os.sched_getaffinity(0)),
        driver_memory="3g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    steps = [
        (f"tick{i + 1}", name) for i, name in enumerate(names)
    ] + [("backfill", None)]
    total_cpu = 0.0
    first = _jvm_counters(spark)
    for step, name in steps:
        before, c0, t0 = _jvm_counters(spark), tree_seconds(), time.perf_counter()
        if name is None:
            stats = run_pipeline(
                spark,
                backfill_logs,
                os.path.join(BASE, "backfill", "out"),
                REF_DT,
                max_records=BACKFILL_FILES,
                html_path=os.path.join(BASE, "backfill", "report.html"),
            )
        else:
            shutil.move(os.path.join(staging, name), logs)
            stats = run_incremental(spark, logs, os.path.join(BASE, "cron", "out"), REF_DT)
        wall, cpu = time.perf_counter() - t0, tree_seconds() - c0
        after = _jvm_counters(spark)
        total_cpu += cpu
        print(
            json.dumps(
                {
                    "step": step,
                    "files": stats["files"],
                    "events": stats["events"],
                    "wall_s": round(wall, 2),
                    "cpu_s": round(cpu, 2),
                    "compiles": after["compiles"] - before["compiles"],
                    "jit_ms": after["jit_ms"] - before["jit_ms"],
                    "classes_loaded": after["classes_loaded"] - before["classes_loaded"],
                    "metaspace_kb": after["metaspace_kb"],
                    "metaspace_growth_kb": after["metaspace_kb"] - before["metaspace_kb"],
                }
            ),
            flush=True,
        )
    last = _jvm_counters(spark)
    print(
        json.dumps(
            {
                "step": "total",
                "ticks": ticks,
                "cpu_s": round(total_cpu, 2),
                "compiles": last["compiles"] - first["compiles"],
                "codegen_cache_entries": spark.conf.get(
                    "spark.sql.codegen.cache.maxEntries"
                ),
            }
        ),
        flush=True,
    )
    spark.stop()
    shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    main()
