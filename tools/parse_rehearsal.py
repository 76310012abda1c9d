"""Large-corpus parse rehearsal (VERDICT r4 item 5).

Exercises the reference's unit of work (rds_pgbadger.py:80,120 — one
hour-granular log file per RDS download, a directory of them per run)
at multi-GB scale: generate N hour files of ~SIZE_MB each, then run the
full production path — parse → write_events_partitioned → full_report →
write_report — and measure wall time, CPU seconds (this process, its JVM
and the JVM's Python workers), rows/s, shuffle read/write bytes per
stage (from the Spark event log), and the reassembly partition sizes
(per-source-file line counts, since the windowed plan shuffles once on
source_file).

The parse runs one reassembly plan by its function name, whatever
``parse_logs`` would pick for these sizes: REHEARSAL_STRATEGY=windowed
(the default, ``parse_logs_windowed``) or splitwise
(``parse_logs_splitwise``).

Usage:  python tools/parse_rehearsal.py [hours] [mb_per_hour]
Writes a JSON summary to stdout; intermediate data under
$REHEARSAL_DIR (default /tmp/parse_rehearsal), reused if present.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/parse_rehearsal")


def generate_hour(path: str, target_bytes: int) -> None:
    """One deterministic stderr-format log hour with the full payload
    mix the report sections consume: statements with durations,
    multi-line statements, prepared-statement phases, errors +
    STATEMENT/DETAIL, connections/disconnections, tempfiles,
    checkpoints, autovacuum."""
    buf: list[str] = []
    written = 0
    i = 0
    with open(path, "w") as f:
        while written < target_bytes:
            sec = i % 3600
            ts = f"2019-04-01 00:{sec // 60:02d}:{sec % 60:02d}"
            pid = 1000 + i % 800
            user = ("app", "report", "etl")[i % 3]
            prefix = (
                f"{ts} UTC:10.0.{i % 200 // 50}.{i % 50 + 1}"
                f"(5{i % 9000 + 1000}):{user}@proddb:[{pid}]:"
            )
            m = i % 40
            if m < 24:  # plain statement with duration
                buf.append(
                    f"{prefix}LOG:  duration: {i % 977}.{i % 100:03d} ms  "
                    f"statement: SELECT c{i % 7} FROM t{i % 60} "
                    f"WHERE id = {i} AND grp = {i % 13}"
                )
            elif m < 28:  # multi-line statement
                buf.append(
                    f"{prefix}LOG:  duration: {i % 450}.{i % 100:03d} ms  "
                    "statement: SELECT o_orderkey, o_totalprice"
                )
                buf.append("\tFROM orders JOIN lineitem ON l_orderkey = o_orderkey")
                buf.append(f"\tWHERE o_custkey = {i} AND o_comment LIKE '%x{i % 97}%'")
                buf.append("\tORDER BY o_orderdate DESC LIMIT 50")
            elif m < 31:  # prepared-statement phases
                q = f"SELECT * FROM t{i % 60} WHERE id = $1"
                buf.append(
                    f"{prefix}LOG:  duration: 0.{i % 90 + 10:03d} ms  parse p{i % 5}: {q}"
                )
                buf.append(
                    f"{prefix}LOG:  duration: 0.{i % 60 + 5:03d} ms  bind p{i % 5}: {q}"
                )
                buf.append(
                    f"{prefix}LOG:  duration: {i % 70}.{i % 100:03d} ms  execute p{i % 5}: {q}"
                )
            elif m < 33:  # connection lifecycle
                buf.append(
                    f"{prefix}LOG:  connection authorized: user={user} database=proddb"
                )
                buf.append(
                    f"{prefix}LOG:  disconnection: session time: 0:0{i % 6}:"
                    f"{i % 60:02d}.{i % 1000:03d} user={user} database=proddb host=10.0.0.{i % 50 + 1}"
                )
            elif m < 36:  # error with STATEMENT/DETAIL
                buf.append(
                    f'{prefix}ERROR:  duplicate key value violates unique '
                    f'constraint "t{i % 60}_pkey"'
                )
                buf.append(
                    f"{prefix}DETAIL:  Key (id)=({i}) already exists."
                )
                buf.append(
                    f"{prefix}STATEMENT:  INSERT INTO t{i % 60} VALUES ({i}, 'x')"
                )
            elif m < 38:  # tempfile
                buf.append(
                    f'{prefix}LOG:  temporary file: path "base/pgsql_tmp/pgsql_tmp'
                    f'{pid}.0", size {(i % 64 + 1) * 1048576}'
                )
            elif m == 38:  # checkpoint
                buf.append(f"{prefix}LOG:  checkpoint starting: time")
                buf.append(
                    f"{prefix}LOG:  checkpoint complete: wrote {i % 4000} buffers "
                    f"(2.4%); write={i % 30}.{i % 1000:03d} s, sync=0.{i % 900 + 100:03d} s"
                )
            else:  # autovacuum
                buf.append(
                    f'{prefix}LOG:  automatic vacuum of table "proddb.public.t{i % 60}": '
                    f"index scans: 1 pages: 0 removed, {i % 5000} remain "
                    f"tuples: {i % 9000} removed, {i % 100000} remain"
                )
            i += 1
            if len(buf) >= 20_000:
                chunk = "\n".join(buf) + "\n"
                f.write(chunk)
                written += len(chunk)
                buf = []
        if buf:
            chunk = "\n".join(buf) + "\n"
            f.write(chunk)


def shift_hour(src: str, dst: str, hour: int) -> None:
    day, h = 1 + hour // 24, hour % 24  # roll into the next day past 23h
    with open(src, "rb") as f:
        data = f.read()
    data = data.replace(b"2019-04-01 00:", b"2019-04-%02d %02d:" % (day, h))
    with open(dst, "wb") as f:
        f.write(data)


def stage_metrics(event_dir: str) -> list[dict]:
    """Shuffle/IO metrics per completed stage from the Spark event log."""
    out = []
    paths = [
        p
        for p in glob.glob(f"{event_dir}/**", recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in paths:
        opener = gzip.open if path.endswith(".gz") else open
        try:
            with opener(path, "rt") as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if ev.get("Event") != "SparkListenerStageCompleted":
                        continue
                    si = ev["Stage Info"]
                    acc = {
                        a["Name"]: a.get("Value")
                        for a in si.get("Accumulables", [])
                    }
                    out.append(
                        {
                            "stage": si["Stage ID"],
                            "name": si["Stage Name"].split("\n")[0][:80],
                            "tasks": si["Number of Tasks"],
                            "input_mb": round(
                                int(acc.get("internal.metrics.input.bytesRead", 0))
                                / 1e6, 1),
                            "shuffle_write_mb": round(
                                int(acc.get(
                                    "internal.metrics.shuffle.write.bytesWritten", 0))
                                / 1e6, 1),
                            "shuffle_read_mb": round(
                                int(acc.get(
                                    "internal.metrics.shuffle.read.remoteBytesRead", 0))
                                / 1e6
                                + int(acc.get(
                                    "internal.metrics.shuffle.read.localBytesRead", 0))
                                / 1e6, 1),
                            "spill_mb": round(
                                int(acc.get("internal.metrics.memoryBytesSpilled", 0))
                                / 1e6, 1),
                        }
                    )
        except OSError:
            continue
    return sorted(out, key=lambda s: s["stage"])


def main() -> None:
    hours = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    mb = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    logdir = f"{BASE}/logs_{hours}x{mb}"
    evdir = f"{BASE}/eventlog"
    outdir = f"{BASE}/events_parquet"
    repdir = f"{BASE}/report"
    os.makedirs(evdir, exist_ok=True)

    t_gen = 0.0
    if not os.path.isdir(logdir) or len(os.listdir(logdir)) != hours:
        shutil.rmtree(logdir, ignore_errors=True)
        os.makedirs(logdir)
        t0 = time.perf_counter()
        first = f"{logdir}/postgresql.log.2019-04-01-00"
        generate_hour(first, mb * 1024 * 1024)
        for h in range(1, hours):
            name = f"postgresql.log.2019-04-{1 + h // 24:02d}-{h % 24:02d}"
            shift_hour(first, f"{logdir}/{name}", h)
        t_gen = time.perf_counter() - t0

    input_bytes = sum(
        os.path.getsize(f"{logdir}/{f}") for f in os.listdir(logdir)
    )

    from perfbench.cpu import tree_seconds

    from rds_pgbadger_etl_spark.operators.logparse import (
        parse_logs_splitwise,
        parse_logs_windowed,
    )
    from rds_pgbadger_etl_spark.plans.reports import full_report
    from rds_pgbadger_etl_spark.session import get_spark
    from rds_pgbadger_etl_spark.sinks.report_sink import (
        write_events_partitioned,
        write_report,
    )

    spark = get_spark(
        app_name="parse-rehearsal",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    strategy = os.environ.get("REHEARSAL_STRATEGY", "windowed")
    plans = {"windowed": parse_logs_windowed, "splitwise": parse_logs_splitwise}
    if strategy not in plans:
        raise SystemExit(f"REHEARSAL_STRATEGY={strategy!r} is not one of {sorted(plans)}")
    shutil.rmtree(outdir, ignore_errors=True)
    c0, t0 = tree_seconds(), time.perf_counter()
    parsed = plans[strategy](spark, logdir)
    write_events_partitioned(parsed, outdir)
    t_parse = time.perf_counter() - t0
    cpu_parse = tree_seconds() - c0

    from rds_pgbadger_etl_spark.operators.logparse import release_parse_caches
    release_parse_caches()  # drop the splitwise segment cache, if any
    events = spark.read.parquet(outdir)
    n_events = events.count()
    n_lines = events.agg({"n_lines": "sum"}).collect()[0][0]

    # reassembly partition bound: P2 shuffles once on source_file, so
    # the per-file line count IS the partition size of the ordered step
    from pyspark.sql import functions as F

    per_file = (
        events.groupBy("source_file")
        .agg(F.sum("n_lines").alias("lines"))
        .agg(
            F.count("*").alias("files"),
            F.max("lines").alias("max_lines"),
            F.avg("lines").alias("avg_lines"),
        )
        .collect()[0]
    )

    shutil.rmtree(repdir, ignore_errors=True)
    t0 = time.perf_counter()
    sections = full_report(events)
    write_report(sections, repdir)
    t_report = time.perf_counter() - t0

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)  # event log flush

    stages = stage_metrics(evdir)
    top = sorted(
        stages,
        key=lambda s: s["shuffle_write_mb"] + s["shuffle_read_mb"],
        reverse=True,
    )[:6]
    summary = {
        "app_id": app_id,
        "strategy": strategy,
        "hours": hours,
        "input_gb": round(input_bytes / 1e9, 2),
        "gen_sec": round(t_gen, 1),
        "parse_write_sec": round(t_parse, 1),
        "parse_write_cpu_sec": round(cpu_parse, 1),
        "report_sec": round(t_report, 1),
        "n_events": n_events,
        "n_lines": int(n_lines),
        "lines_per_sec": int(n_lines / t_parse),
        "mb_per_sec": round(input_bytes / 1e6 / t_parse, 1),
        "reassembly_partitions": {
            "files": per_file.files,
            "max_lines": per_file.max_lines,
            "avg_lines": int(per_file.avg_lines),
        },
        "total_shuffle_write_mb": round(
            sum(s["shuffle_write_mb"] for s in stages), 1),
        "total_spill_mb": round(sum(s["spill_mb"] for s in stages), 1),
        "top_shuffle_stages": top,
    }
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
