"""End-to-end pipeline test: staged hour files → select → parse → sinks.

Covers the reference's whole MainTask flow (rds_pgbadger.py:83-129):
newest-K closed-hour selection (the open reference hour must be
skipped), per-file parsing, report sections, partitioned event sink,
and the single-HTML artifact.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import pytest
from tests.test_logparse import FIXTURES

from rds_pgbadger_etl_spark.cli import _parse_reference, main, run_pipeline
from rds_pgbadger_etl_spark.plans.reports import REPORT_SECTIONS


def _stage(tmp_path, hours: list[str]) -> str:
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    src = os.path.join(FIXTURES, "basic.log")
    for h in hours:
        shutil.copy(src, log_dir / f"postgresql.log.{h}")
    (log_dir / "README.txt").write_text("not a log file name")
    return str(log_dir)


def test_run_pipeline_end_to_end(spark, tmp_path):
    log_dir = _stage(
        tmp_path,
        ["2024-01-15-09", "2024-01-15-10", "2024-01-15-11", "2024-01-15-12"],
    )
    out_dir = str(tmp_path / "out")
    html = str(tmp_path / "report.html")
    stats = run_pipeline(
        spark,
        log_dir,
        out_dir,
        reference_dt=datetime(2024, 1, 15, 12, 0),
        max_records=2,
        html_path=html,
    )
    # hour 12 is the open reference hour -> excluded; newest 2 = 11, 10
    assert stats["files"] == 2
    assert stats["events"] > 0

    events = spark.read.parquet(f"{out_dir}/events")
    # the write-side Observation counters must equal the stored truth
    # (they were accumulated on the write action itself, no extra scan)
    assert stats["events"] == events.count()
    assert stats["malformed"] == events.filter("level = 'MALFORMED'").count()
    assert stats["null_ts"] == events.filter("event_ts IS NULL").count()
    # partition values come back through read-side type inference (int here)
    hours = {str(r.log_hour) for r in events.select("log_hour").distinct().collect()}
    assert hours == {"10", "11"}

    top = spark.read.parquet(f"{out_dir}/report/top_queries")
    assert top.count() > 0
    with open(html) as f:
        body = f.read()
    assert "top_queries" in body and "<table" in body


def test_parse_reference_formats():
    assert _parse_reference("2024-01-15-12") == datetime(2024, 1, 15, 12, 0)
    assert _parse_reference("2024-01-15T01:02:03") == datetime(2024, 1, 15, 1, 2, 3)
    assert _parse_reference(None).year >= 2024


def test_run_incremental_manifest_semantics(spark, tmp_path):
    from rds_pgbadger_etl_spark.cli import run_incremental

    log_dir = _stage(tmp_path, ["2024-01-15-09", "2024-01-15-10"])
    out_dir = str(tmp_path / "out_inc")
    ref = datetime(2024, 1, 15, 10, 0)

    # run 1: hour 09 is closed, hour 10 is the open reference hour
    s1 = run_incremental(spark, log_dir, out_dir, ref)
    assert (s1["files"], s1["skipped"]) == (1, 0)
    assert s1["events"] > 0 and s1["malformed"] == 0
    # each section's row count; basic.log holds 3 normalized queries
    assert set(s1["report_rows"]) == set(REPORT_SECTIONS)
    assert s1["report_rows"]["top_queries"] == 3
    # run 2: nothing new (no write happened -> no quality counters)
    s2 = run_incremental(spark, log_dir, out_dir, ref)
    assert s2 == {"files": 0, "skipped": 1}
    # hour 10 closes (reference advances): exactly it gets processed
    s3 = run_incremental(spark, log_dir, out_dir, datetime(2024, 1, 15, 11, 0))
    assert (s3["files"], s3["skipped"]) == (1, 1)

    events = spark.read.parquet(f"{out_dir}/events")
    hours = {str(r.log_hour) for r in events.select("log_hour").distinct().collect()}
    assert hours == {"9", "10"}

    # per-hour report artifacts (the reference's one-report-per-file
    # semantics): each processed hour got its own report partition
    for d, h in (("2024-01-15", 9), ("2024-01-15", 10)):
        top = spark.read.parquet(
            f"{out_dir}/report/log_date={d}/log_hour={h}/top_queries"
        )
        assert top.count() > 0


def test_rerun_hour_replaces_its_report_atomically(spark, tmp_path):
    """Re-processing an hour rewrites each section in place: exactly one
    data file per section, holding only the new run's rows, with
    _SUCCESS — also over a section directory an earlier Spark write left
    with its own part and checksum files."""
    from rds_pgbadger_etl_spark.cli import run_incremental

    log_dir = _stage(tmp_path, ["2024-01-15-09"])
    out_dir = tmp_path / "out_rerun"
    ref = datetime(2024, 1, 15, 10, 0)
    report = out_dir / "report" / "log_date=2024-01-15" / "log_hour=9"
    spark.range(3).write.parquet(str(report / "phase_timing"))  # old layout

    s1 = run_incremental(spark, log_dir, str(out_dir), ref)
    assert s1["report_rows"]["top_queries"] == 3
    # the hour's file is re-staged with other contents and re-processed
    shutil.copy(
        os.path.join(FIXTURES, "errors.log"),
        os.path.join(log_dir, "postgresql.log.2024-01-15-09"),
    )
    os.remove(out_dir / "_processed_files.txt")
    s2 = run_incremental(spark, log_dir, str(out_dir), ref)
    assert s2["files"] == 1 and s2["events"] == 9

    for section, n in s2["report_rows"].items():
        d = report / section
        assert sorted(os.listdir(d)) == ["_SUCCESS", "part-00000.parquet"]
        assert spark.read.parquet(str(d)).count() == n, section
    hist = spark.read.parquet(str(report / "time_histogram")).collect()
    assert sum(r.n_events for r in hist) == 9
    top = spark.read.parquet(str(report / "top_queries")).collect()
    assert [r.normalized_query for r in top] == [
        "insert into users values (?, ?)"
    ]


class _Crash(Exception):
    """The failure injected into a tick."""


def _tick_state(out_dir: str) -> dict:
    """What a tick leaves for the next one and for its readers: the
    manifest, every stored event row and every per-hour report table."""
    import pyarrow.dataset as pads

    def rows(path: str) -> list[str]:
        t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
        return sorted(map(repr, t.select(sorted(t.column_names)).to_pylist()))

    with open(os.path.join(out_dir, "_processed_files.txt")) as f:
        state = {"manifest": f.read(), "events": rows(f"{out_dir}/events")}
    report = os.path.join(out_dir, "report")
    for day in sorted(os.listdir(report)):
        for hour in sorted(os.listdir(os.path.join(report, day))):
            for section in sorted(REPORT_SECTIONS):
                key = f"{day}/{hour}/{section}"
                state[key] = rows(os.path.join(report, key))
    return state


_FIRST, _SECOND = datetime(2024, 1, 15, 10, 0), datetime(2024, 1, 15, 12, 0)


@pytest.fixture(scope="module")
def first_tick(spark, tmp_path_factory):
    """Logs for hours 09-11 (hour 10 with errors), the out dir one tick
    at 10:00 left, and the state an uninterrupted second tick at 12:00
    leaves after it."""
    from rds_pgbadger_etl_spark.cli import run_incremental

    tmp = tmp_path_factory.mktemp("crash")
    log_dir = _stage(tmp, ["2024-01-15-09", "2024-01-15-10", "2024-01-15-11"])
    shutil.copy(
        os.path.join(FIXTURES, "errors.log"),
        os.path.join(log_dir, "postgresql.log.2024-01-15-10"),
    )
    base, clean = str(tmp / "base"), str(tmp / "clean")
    run_incremental(spark, log_dir, base, _FIRST)
    shutil.copytree(base, clean)
    run_incremental(spark, log_dir, clean, _SECOND)
    return log_dir, base, _tick_state(clean)


@pytest.mark.parametrize(
    "crash", ["after_events", "after_first_section", "before_manifest"]
)
def test_rerun_after_a_crash_equals_an_uninterrupted_tick(
    spark, tmp_path, monkeypatch, first_tick, crash
):
    """A tick that dies after its events are written, after the first
    report section is written, or just before the manifest replace is
    re-run to the state an uninterrupted tick leaves: the same manifest,
    the same stored events and the same per-hour reports."""
    from rds_pgbadger_etl_spark.cli import run_incremental
    from rds_pgbadger_etl_spark.sinks import report_sink

    log_dir, base, want = first_tick
    crashed = str(tmp_path / "crashed")
    shutil.copytree(base, crashed)

    def after(real):
        def crashing(*args, **kwargs):
            real(*args, **kwargs)
            raise _Crash(crash)

        return crashing

    if crash == "after_events":
        monkeypatch.setattr(
            report_sink, "write_events_partitioned",
            after(report_sink.write_events_partitioned),
        )
    elif crash == "after_first_section":
        monkeypatch.setattr(
            report_sink, "_write_section", after(report_sink._write_section)
        )
    else:
        real_replace = os.replace

        def replace(src, dst):
            if str(dst).endswith("_processed_files.txt"):
                raise _Crash(crash)
            real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(_Crash):
        run_incremental(spark, log_dir, crashed, _SECOND)
    monkeypatch.undo()
    stats = run_incremental(spark, log_dir, crashed, _SECOND)
    assert (stats["files"], stats["skipped"]) == (2, 1)
    got = _tick_state(crashed)
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], key


def test_cli_incremental_prints_report_rows(capsys, spark, tmp_path):
    """--incremental prints each section's row count when it processed
    files, and no row counts when there was nothing new."""
    import json

    log_dir = _stage(tmp_path, ["2024-01-15-09"])
    argv = ["--log-dir", log_dir, "--out-dir", str(tmp_path / "out"),
            "--reference-datetime", "2024-01-15-10", "--incremental"]
    main(argv)
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "processed 1 new files (0 already done)"
    assert lines[1].startswith("report rows: ")
    rows = json.loads(lines[1][len("report rows: "):])
    assert set(rows) == set(REPORT_SECTIONS) and rows["top_queries"] == 3
    assert lines[2].startswith("codegen compiles: ")
    assert int(lines[2][len("codegen compiles: "):]) >= 0
    main(argv)
    assert capsys.readouterr().out.splitlines() == [
        "processed 0 new files (1 already done)"
    ]


def test_repeated_ticks_compile_no_class(spark, tmp_path):
    """A warm process that repeats a plan shape compiles no generated
    class: the third of three ticks of identical hours, and a repeated
    backfill over the same hours, find every class in Spark's codegen
    cache (with Spark's 100-entry default and stage ids in the class
    names, each tick compiled ~155 again)."""
    from rds_pgbadger_etl_spark.cli import run_incremental
    from rds_pgbadger_etl_spark.session import codegen_compiles

    log_dir = _stage(
        tmp_path, ["2024-01-15-09", "2024-01-15-10", "2024-01-15-11"]
    )
    out_dir = str(tmp_path / "out_ticks")
    ticks = []
    for hour in (10, 11, 12):  # each tick closes exactly one new hour
        before = codegen_compiles(spark)
        stats = run_incremental(spark, log_dir, out_dir,
                                datetime(2024, 1, 15, hour, 0))
        assert stats["files"] == 1 and stats["report_rows"]["top_queries"] == 3
        ticks.append((stats["codegen_compiles"], codegen_compiles(spark) - before))
    assert ticks[-1] == (0, 0), ticks

    out_batch = str(tmp_path / "out_batch")
    ref = datetime(2024, 1, 15, 12, 0)
    first = run_pipeline(spark, log_dir, out_batch, ref, max_records=3)
    before = codegen_compiles(spark)
    again = run_pipeline(spark, log_dir, out_batch, ref, max_records=3)
    assert (again["codegen_compiles"], codegen_compiles(spark) - before) == (0, 0)
    assert again["report_rows"] == first["report_rows"]


def test_empty_first_hour(spark, tmp_path):
    """An empty closed-hour file as the first hour of a fresh out-dir
    writes no events directory; the tick still writes every report
    section, empty, and lists the file in the manifest — and a backfill
    whose every file is empty reports the same way."""
    from rds_pgbadger_etl_spark.cli import run_incremental

    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    (log_dir / "postgresql.log.2024-01-15-09").write_text("")
    out_dir = tmp_path / "out_empty"
    stats = run_incremental(spark, str(log_dir), str(out_dir),
                            datetime(2024, 1, 15, 10, 0))
    assert (stats["files"], stats["events"]) == (1, 0)
    assert stats["report_rows"] == {n: 0 for n in REPORT_SECTIONS}
    assert (out_dir / "_processed_files.txt").read_text().split() == [
        "postgresql.log.2024-01-15-09"
    ]
    report = out_dir / "report" / "log_date=2024-01-15" / "log_hour=9"
    for section in REPORT_SECTIONS:
        assert (report / section / "_SUCCESS").exists(), section

    batch = run_pipeline(spark, str(log_dir), str(tmp_path / "out_batch"),
                         datetime(2024, 1, 15, 10, 0))
    assert (batch["files"], batch["events"]) == (1, 0)
    assert batch["report_rows"] == {n: 0 for n in REPORT_SECTIONS}


def _job_descriptions(spark, fn) -> list[str]:
    """Descriptions of the Spark jobs ``fn()`` starts."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(jid).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_tick_reads_only_its_hour(spark, tmp_path):
    """A tick over an events table of more than 32 date directories
    (where Spark lists a table's partitions with a Spark job) starts no
    listing job, and its hour's stored events and report equal those of
    a read of the table's root filtered to the hour."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.cli import run_incremental
    from rds_pgbadger_etl_spark.operators.logparse import parse_logs
    from rds_pgbadger_etl_spark.plans.reports import full_report
    from rds_pgbadger_etl_spark.sinks.report_sink import (
        collect_report,
        read_events_hours,
    )

    log_dir = _stage(tmp_path, ["2024-01-15-09"])
    out_dir = tmp_path / "out_many"
    run_incremental(spark, log_dir, str(out_dir), datetime(2024, 1, 15, 10, 0))
    events_dir = out_dir / "events"
    for i in range(40):  # 41 date directories in all
        day = datetime(2023, 11, 1) + timedelta(days=i)
        shutil.copytree(events_dir / "log_date=2024-01-15",
                        events_dir / f"log_date={day:%Y-%m-%d}")
    shutil.copy(os.path.join(FIXTURES, "errors.log"),
                os.path.join(log_dir, "postgresql.log.2024-01-16-07"))

    stats = {}

    def tick():
        stats.update(run_incremental(spark, log_dir, str(out_dir),
                                     datetime(2024, 1, 17, 0, 0)))

    descriptions = _job_descriptions(spark, tick)
    assert stats["files"] == 1 and stats["events"] == 9
    assert descriptions and not [
        d for d in descriptions if d.startswith("Listing leaf files")
    ], descriptions

    path = os.path.join(log_dir, "postgresql.log.2024-01-16-07")
    schema = parse_logs(spark, [path]).schema
    hour = read_events_hours(spark, str(events_dir), [("2024-01-16", 7)], schema)
    root = spark.read.parquet(str(events_dir)).filter(
        (F.col("log_date") == "2024-01-16") & (F.col("log_hour") == 7)
    )
    assert hour.schema == root.schema
    assert sorted(map(str, hour.collect())) == sorted(map(str, root.collect()))

    written = out_dir / "report" / "log_date=2024-01-16" / "log_hour=7"
    for section, table in collect_report(full_report(root)).items():
        got = pq.read_table(str(written / section / "part-00000.parquet"))
        assert sorted(map(repr, got.to_pylist())) == sorted(
            map(repr, table.to_pylist())
        ), section


def test_cli_query_registry_access(capsys, spark):
    from rds_pgbadger_etl_spark import cli

    cli.main(["--list-queries"])
    names = capsys.readouterr().out.split()
    assert "q01_pricing_summary" in names and len(names) >= 100

    cli.main(
        [
            "--query", "q03_distinct",
            "--sf-dir", "/root/testdata/sf0.001",
            "--limit", "5", "--cpus", "8",
        ]
    )
    import json

    rows = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert 1 <= len(rows) <= 5
    assert set(rows[0]) == {"c_mktsegment", "c_nationkey"}


def test_cli_compact_cluster_verb(capsys, spark, tmp_path):
    """The maintenance verb end-to-end: `--compact DIR --cluster
    user_id,ts` on a fragmented events table reduces the file count,
    preserves every row, and prints the before/after summary — the
    cron job's Z-order delivery path."""
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark import cli
    from rds_pgbadger_etl_spark.sources.tables import load_table

    out = str(tmp_path / "events_table")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "log_date", F.to_date("ts")
    )
    for i in range(4):
        (
            ev.filter(F.col("event_id") % 4 == i)
            .write.mode("append")
            .partitionBy("log_date")
            .parquet(out)
        )
    want = sorted(map(str, spark.read.parquet(out).collect()))
    cli.main(
        [
            "--compact", out,
            "--compact-partition-cols", "log_date",
            "--cluster", "user_id,ts",
            "--cpus", "8",
        ]
    )
    msg = capsys.readouterr().out
    assert "z-ordered on user_id,ts" in msg
    # a cluster request that can't apply (string column: all-null
    # double domain) must WARN and report plain compaction, not claim
    # z-ordering it didn't do
    cli.main(
        [
            "--compact", out,
            "--compact-partition-cols", "log_date",
            "--cluster", "event_type",
            "--cpus", "8",
        ]
    )
    msg = capsys.readouterr().out
    assert "WARNING" in msg and "did not apply" in msg
    assert "z-ordered" not in msg
    assert sorted(map(str, spark.read.parquet(out).collect())) == want
    n_parts = spark.read.parquet(out).select("log_date").distinct().count()
    import glob

    files = [
        p
        for p in glob.glob(f"{out}/**/*.parquet", recursive=True)
        if "_temporary" not in p
    ]
    # size-targeted: ~one range per partition, plus at most one
    # boundary-straddling extra per partition (the documented cost of
    # the single-shuffle range clustering); 4x-fragmented input repaired
    assert n_parts <= len(files) <= 2 * n_parts


def test_auto_strategy_selection(spark, tmp_path):
    """The size rule picks windowed for hour-files within a couple of
    scan splits and splitwise once any file exceeds 2x maxPartitionBytes
    (the 5 GB busy-hour straggler case)."""
    from rds_pgbadger_etl_spark.operators.logparse import (
        choose_parse_strategy,
    )

    small = tmp_path / "small.log"
    small.write_text("x" * 100)
    big = tmp_path / "big.log"
    big.write_text("x" * 5000)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        assert choose_parse_strategy(spark, [str(small)]) == "windowed"
        assert (
            choose_parse_strategy(spark, [str(small), str(big)])
            == "splitwise"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # default config (128m): real hour-fixtures stay windowed
    assert choose_parse_strategy(spark, [str(big)]) == "windowed"


def test_run_pipeline_report_scope(spark, tmp_path):
    """With dynamic partition overwrite, hours written by EARLIER runs
    into the same out_dir survive in events/ — but the report must cover
    only the files processed THIS run (the reference's per-run report
    semantics, rds_pgbadger.py:44-45)."""
    log_dir = _stage(tmp_path, ["2024-01-15-09", "2024-01-15-10"])
    out_dir = str(tmp_path / "out_scope")
    # run 1: both closed hours; run 2: only the newest (hour 10)
    run_pipeline(spark, log_dir, out_dir, datetime(2024, 1, 15, 12, 0),
                 max_records=5)
    stats2 = run_pipeline(spark, log_dir, out_dir,
                          datetime(2024, 1, 15, 12, 0), max_records=1)
    assert stats2["files"] == 1

    events = spark.read.parquet(f"{out_dir}/events")
    hours = {int(r.log_hour) for r in
             events.select("log_hour").distinct().collect()}
    assert hours == {9, 10}  # earlier run's partition survived ...
    hist = spark.read.parquet(f"{out_dir}/report/time_histogram")
    total = sum(r.n_events for r in hist.collect())
    one_hour = events.filter("log_hour = 10").filter(
        "event_ts IS NOT NULL").count()
    assert total == one_hour  # ... but the report covers run 2 only


def _spy_plans(monkeypatch) -> list[str]:
    """Record which reassembly plan each ``parse_logs`` call takes."""
    from rds_pgbadger_etl_spark.operators import logparse

    taken: list[str] = []
    for plan in ("parse_logs_windowed", "parse_logs_splitwise"):
        real = getattr(logparse, plan)

        def spy(*args, _real=real, _plan=plan):
            taken.append(_plan)
            return _real(*args)

        monkeypatch.setattr(logparse, plan, spy)
    return taken


def test_run_pipeline_splitwise_strategy(spark, tmp_path, monkeypatch):
    """With maxPartitionBytes lowered until the size rule picks the
    splitwise plan for the selected files, run_pipeline writes the same
    event table as the default run, which takes the windowed plan."""
    log_dir = _stage(tmp_path, ["2024-01-15-09", "2024-01-15-10"])
    out_w = str(tmp_path / "out_w")
    out_s = str(tmp_path / "out_s")
    ref = datetime(2024, 1, 15, 12, 0)
    taken = _spy_plans(monkeypatch)
    run_pipeline(spark, log_dir, out_w, ref, max_records=2)
    assert taken == ["parse_logs_windowed"]
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        size = os.path.getsize(os.path.join(FIXTURES, "basic.log"))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(size // 3))
        run_pipeline(spark, log_dir, out_s, ref, max_records=2)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert taken == ["parse_logs_windowed", "parse_logs_splitwise"]
    w = spark.read.parquet(f"{out_w}/events")
    s = spark.read.parquet(f"{out_s}/events")
    cols = sorted(w.columns)
    w_rows = sorted(map(str, w.select(cols).collect()))
    s_rows = sorted(map(str, s.select(cols).collect()))
    assert w_rows == s_rows and len(w_rows) > 0


def test_parse_logs_sizes_directory_and_glob(spark, tmp_path, monkeypatch):
    """parse_logs sizes the files its scan reads in every path form: a
    directory or a trailing glob that takes in one file past the bound
    parses splitwise; a glob that leaves that file out parses windowed.
    Both plans give the same rows."""
    from rds_pgbadger_etl_spark.operators.logparse import (
        parse_logs,
        release_parse_caches,
    )

    log_dir = tmp_path / "mixed"
    log_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "basic.log"), log_dir / "a.log")
    shutil.copy(os.path.join(FIXTURES, "prepared.log"), log_dir / "big.log")
    shutil.copy(os.path.join(FIXTURES, "errors.log"), log_dir / "c.txt")
    bound = os.path.getsize(os.path.join(FIXTURES, "prepared.log")) // 2 - 1
    assert 2 * bound > max(
        os.path.getsize(log_dir / n) for n in ("a.log", "c.txt")
    )
    taken = _spy_plans(monkeypatch)

    def rows(path):
        df = parse_logs(spark, path)
        out = sorted(map(str, df.drop("source_file").collect()))
        release_parse_caches()
        return out

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(bound))
        by_dir = rows(str(log_dir))
        by_glob = rows(str(log_dir / "*.log"))
        small = rows(str(log_dir / "[ac].*"))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert taken == [
        "parse_logs_splitwise", "parse_logs_splitwise", "parse_logs_windowed"
    ]
    assert by_dir == rows(str(log_dir)) and by_glob == rows(str(log_dir / "*.log"))
    assert taken[3:] == ["parse_logs_windowed", "parse_logs_windowed"]
    assert set(by_glob) | set(small) == set(by_dir)
    assert set(by_glob) != set(by_dir) and set(small) != set(by_dir)


def test_hour_from_file_name_not_directory(spark, tmp_path):
    """A log's hour is the trailing YYYY-MM-DD-HH of its file name, for
    the events' partition as for selection and the hour's report: a file
    staged under a directory whose name holds another date lands in its
    own hour, and that hour's report holds its rows."""
    from rds_pgbadger_etl_spark.cli import run_incremental

    log_dir = tmp_path / "staged-2023-12-31"
    log_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "basic.log"),
                log_dir / "postgresql.log.2024-01-15-09")
    out_dir = tmp_path / "out_dated"
    stats = run_incremental(spark, str(log_dir), str(out_dir),
                            datetime(2024, 1, 15, 10, 0))
    assert stats["files"] == 1 and stats["events"] == 4
    assert stats["report_rows"]["top_queries"] == 3
    def listed(d):
        return sorted(n for n in os.listdir(d) if not n.startswith((".", "_")))

    events = out_dir / "events"
    assert listed(events) == ["log_date=2024-01-15"]
    assert listed(events / "log_date=2024-01-15") == ["log_hour=09"]
    top = spark.read.parquet(
        str(out_dir / "report" / "log_date=2024-01-15" / "log_hour=9" / "top_queries")
    )
    assert top.count() == 3


def test_parse_hour_anchored_and_loud():
    """_parse_hour reads the trailing YYYY-MM-DD-HH via an anchored
    regex and fails loudly on non-conforming names (a .gz suffix would
    otherwise silently build a wrong partition predicate and drop the
    hour from the run's report — ADVICE r6)."""
    import pytest

    from rds_pgbadger_etl_spark.cli import _parse_hour

    assert _parse_hour("postgresql.log.2024-01-02-07") == ("2024-01-02", 7)
    with pytest.raises(ValueError, match="YYYY-MM-DD-HH"):
        _parse_hour("postgresql.log.2024-01-02-07.gz")
    with pytest.raises(ValueError, match="YYYY-MM-DD-HH"):
        _parse_hour("README.txt")


def test_cli_maintain_index_verb(capsys, spark, tmp_path):
    """`--maintain-index DIR` end-to-end: one invocation compacts every
    artifact table, applies pending tombstones physically, and acts on
    the SQ8 drift audit — a deliberately drifted store auto-heals
    (grid retrained, prefix arm re-derived, counters reset) and the
    summary prints what happened. The mutable artifacts are now
    serviceable from the cron container without writing Python."""
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark import cli
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    half = n // 2
    d = str(tmp_path / "ann_store")
    AI.build_ann_index(spark, emb.filter(F.col("vec_id") < half), d)
    AI.add_sq8_to_ann_index(spark, d)
    AI.add_sq8_prefix_to_ann_index(spark, d)
    drifted = emb.filter(F.col("vec_id") >= half).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x * F.lit(3.0)).cast("float")
        ).alias("embedding"),
    )
    AI.append_to_ann_index(spark, drifted, d)
    victims = [int(r.vec_id) for r in emb.limit(3).collect()]
    AI.delete_from_ann_index(spark, victims, d)
    assert AI._drift_numbers(spark, d, AI._SQ8)[0] > AI.SQ8_RETRAIN_OOB_FRAC

    cli.main(["--maintain-index", d, "--cpus", "8"])
    msg = capsys.readouterr().out
    assert "sq8 grid retrained" in msg
    assert "raw:" in msg and "files" in msg
    # healed: counters reset, tombstones applied physically
    frac, n_rows, past = AI._drift_numbers(spark, d, AI._SQ8)
    assert frac == 0.0 and n_rows == n - len(victims)
    assert M.tombstones(spark, d) is None
    # prefix arm re-derived against the retrained grid
    assert (
        spark.read.parquet(M.table_path(d, "sq8_prefix")).count()
        == n_rows
    )
    # a second invocation is a clean no-retrain pass
    cli.main(["--maintain-index", d, "--cpus", "8"])
    msg = capsys.readouterr().out
    assert "retrained" not in msg
    # the observability verb prints the audit as JSON lines, drift
    # included (healed store: frac 0), kind auto-detected
    import json

    cli.main(["--index-stats", d, "--cpus", "8"])
    rows = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    by_table = {r["table"]: r for r in rows}
    assert {"raw", "sq8", "sq8_prefix", "vectors"} <= set(by_table)
    assert by_table["sq8"]["sq8_oob_code_frac"] == 0.0


def test_cli_maintain_dedup_verb(capsys, spark, tmp_path):
    """`--maintain-dedup DIR`: the signature store's compaction +
    tombstone GC from the shell — lookups preserved, file counts
    repaired, pending tombstones cleared."""
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark import cli
    from rds_pgbadger_etl_spark.operators import dedup_index as DI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "dedup_store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 2 == 0), d)
    DI.append_to_dedup_index(spark, docs.filter(F.col("doc_id") % 2 == 1), d)
    victims = [int(r.doc_id) for r in docs.limit(2).collect()]
    DI.delete_from_dedup_index(spark, victims, d)

    probe = docs.limit(20)
    before = sorted(
        map(str, DI.dedup_index_lookup(spark, probe, d).collect())
    )
    cli.main(["--maintain-dedup", d, "--cpus", "8"])
    msg = capsys.readouterr().out
    assert "bands:" in msg and "profiles:" in msg
    assert M.tombstones(spark, d) is None
    after = sorted(
        map(str, DI.dedup_index_lookup(spark, probe, d).collect())
    )
    assert after == before
    # kind auto-detection serves the dedup layout audit too
    import json

    cli.main(["--index-stats", d, "--cpus", "8"])
    rows = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert {r["table"] for r in rows} == {"bands", "profiles"}
