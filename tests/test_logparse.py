"""Golden-fixture tests for the log-analytics layer (SURVEY P1–P11).

Fixtures under tests/fixtures/logs/ follow the reference-pinned format
(pgBadger --format stderr --prefix '%t:%r:%u@%d:[%p]:',
/root/reference/rds_pgbadger.py:56-59).
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.functions.normalize import normalize_query
from rds_pgbadger_etl_spark.operators.logparse import (
    parse_logs,
    parse_logs_splitwise,
    parse_logs_windowed,
    release_parse_caches,
)
from rds_pgbadger_etl_spark.plans import reports

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "logs")


def fixture(name: str) -> str:
    return os.path.join(FIXTURES, name)


def test_basic_parse(spark):
    ev = parse_logs(spark, fixture("basic.log")).orderBy("line_no").collect()
    assert len(ev) == 4
    first = ev[0]
    assert first.event_ts == datetime.datetime(2019, 4, 1, 10, 0, 1)
    assert first.remote_host == "10.0.0.1"
    assert first.remote_port == 50000
    assert first.log_user == "app"
    assert first.database == "proddb"
    assert first.pid == 1001
    assert first.level == "LOG"
    assert first.duration_ms == pytest.approx(1.234)
    assert "select * from users where id = ?" == first.normalized_query
    assert ev[2].duration_ms == pytest.approx(250.75)


def test_multiline_reassembly(spark):
    ev = parse_logs(spark, fixture("multiline.log")).orderBy("line_no").collect()
    assert len(ev) == 2
    big = ev[0]
    assert big.n_lines == 3
    assert big.message.count("\n") == 2
    assert "FROM orders" in big.message
    # the reassembled statement normalizes as one query
    assert big.normalized_query == "select * from orders where total > ?"
    assert ev[1].n_lines == 1


def test_errors_and_maintenance(spark):
    ev = parse_logs(spark, fixture("errors.log"))
    err = {
        (r.level, r.n)
        for r in reports.error_report(ev).select("level", "n").collect()
    }
    assert ("ERROR", 1) in err and ("FATAL", 1) in err and ("WARNING", 1) in err
    # STATEMENT line carries the failing query
    stmt = ev.filter(F.col("level") == "STATEMENT").collect()
    assert len(stmt) == 1
    assert stmt[0].normalized_query == "insert into users values (?, ?)"
    maint = {r.kind: r for r in reports.maintenance_report(ev).collect()}
    assert maint["checkpoint"].n == 2
    assert maint["temp_file"].total_temp_bytes == 1048576
    assert maint["autovacuum"].n == 1


def test_sessions(spark):
    ev = parse_logs(spark, fixture("sessions.log"))
    rows = reports.session_stats(ev).orderBy("log_user").collect()
    by_user = {r.log_user: r for r in rows}
    assert by_user["app"].n_sessions == 1
    assert by_user["app"].avg_session_secs == pytest.approx(600.0)
    assert by_user["report"].avg_session_secs == pytest.approx(1800.0)


def test_malformed_quarantined(spark):
    ev = parse_logs(spark, fixture("malformed.log")).orderBy("line_no").collect()
    assert ev[0].level == "MALFORMED"
    assert ev[0].n_lines == 2  # the two leading garbage lines, one event
    ok = [r for r in ev if r.level == "LOG"]
    assert len(ok) == 1
    # the trailing truncated-prefix line is NOT indented, so it is
    # quarantined as its own MALFORMED event, not glued onto the statement
    assert ok[0].n_lines == 1
    assert ok[0].normalized_query == "select ? from t where a in (...)"
    assert sum(1 for r in ev if r.level == "MALFORMED") == 2


def test_normalize_properties(spark):
    ev = parse_logs(spark, fixture("normalize_cases.log"))
    agg = reports.top_queries(ev, n=10, by="calls").collect()
    by_q = {r.normalized_query: r.calls for r in agg}
    # literal-insensitive + case-insensitive: ids 1/2222/3 collapse
    assert by_q["select name from users where id = ?"] == 3
    # string literals collapse; IN lists collapse regardless of arity
    assert by_q["select name from users where city = ?"] == 1
    assert by_q["select name from users where city = ? and id in (...)"] == 2
    # idempotence: normalize(normalize(x)) == normalize(x)
    df = ev.filter(F.col("normalized_query").isNotNull()).select(
        F.col("normalized_query").alias("q1"),
        normalize_query("normalized_query").alias("q2"),
    )
    assert df.filter(F.col("q1") != F.col("q2")).count() == 0


# top-N / sorted sections -> the columns of their ORDER BY
ORDER_KEYS = {
    "top_queries": ("total_ms", "normalized_query"),
    "slowest_statements": ("duration_ms", "query"),
    "error_report": ("n", "level", "normalized_message"),
    "table_workload": ("total_ms", "table_name"),
    "duration_ranges": ("bucket",),
    "error_templates": ("n_errors", "template"),
}


def _canon_value(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def _canon_rows(rows) -> list[tuple]:
    return [tuple(_canon_value(v) for v in r) for r in rows]


def test_report_sink_roundtrip(spark, tmp_path):
    """write_report collects every section in one Spark action and writes
    it with pyarrow: each table read back with spark.read.parquet has its
    section DataFrame's columns, types and rows, top-N sections keep
    their order, and the HTML rendered from the same rows holds every
    section."""
    from rds_pgbadger_etl_spark.sinks.report_sink import (
        render_html,
        write_report,
    )

    ev = parse_logs(spark, FIXTURES)
    sections = reports.full_report(ev)
    assert set(ORDER_KEYS) < set(sections)
    out = str(tmp_path / "report")
    tables = write_report(sections, out)
    assert list(tables) == list(sections)
    for name, df in sections.items():
        back = spark.read.parquet(f"{out}/{name}")
        assert [(f.name, f.dataType.simpleString()) for f in back.schema] == [
            (f.name, f.dataType.simpleString()) for f in df.schema
        ], name
        want = _canon_rows(df.collect())
        got = _canon_rows(back.collect())
        assert want, f"fixture leaves {name} empty"
        assert sorted(got, key=repr) == sorted(want, key=repr), name
        assert tables[name].num_rows == len(want)
        if name in ORDER_KEYS:
            idx = [df.columns.index(c) for c in ORDER_KEYS[name]]
            assert [[r[i] for i in idx] for r in got] == [
                [r[i] for i in idx] for r in want
            ], name

    # a section with no rows still gets a table with its schema
    empty_out = str(tmp_path / "empty")
    empty = reports.full_report(ev.limit(0))
    assert all(t.num_rows == 0 for t in write_report(empty, empty_out).values())
    for name, df in empty.items():
        assert os.path.exists(f"{empty_out}/{name}/_SUCCESS"), name
        back = spark.read.parquet(f"{empty_out}/{name}")
        assert back.columns == df.columns and back.count() == 0, name

    # rendered from the collected tables, or from the DataFrames
    for i, src in enumerate((tables, sections)):
        html = str(tmp_path / f"report{i}.html")
        render_html(src, html)
        with open(html) as f:
            body = f.read()
        for name in sections:
            assert f"<h2>{name}</h2>" in body, name


def test_classify_statement(spark):
    from rds_pgbadger_etl_spark.functions.normalize import classify_statement

    cases = [
        ("SELECT 1", "SELECT"),
        ("  select * from t", "SELECT"),
        ("Insert into t values (1)", "INSERT"),
        ("UPDATE t SET x = 1", "UPDATE"),
        ("delete from t", "DELETE"),
        ("CREATE TABLE t (x int)", "DDL"),
        ("ALTER TABLE t ADD y int", "DDL"),
        ("DROP INDEX i", "DDL"),
        ("TRUNCATE t", "DDL"),
        ("BEGIN", "TCL"),
        ("commit", "TCL"),
        ("ROLLBACK", "TCL"),
        ("COPY t FROM STDIN", "OTHER"),
        ("VACUUM ANALYZE t", "OTHER"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(s,) for s, _ in cases], "stmt string"
    ).withColumn("cls", classify_statement("stmt"))
    got = [r["cls"] for r in df.collect()]
    assert got == [want for _, want in cases]


def test_prepared_statement_phases(spark):
    """parse/bind/execute duration lines attribute phase + statement +
    duration (pgBadger's prepare/bind/execute split; the earlier
    statement|execute-only regex lost parse/bind statements)."""
    ev = parse_logs(spark, fixture("prepared.log")).orderBy("line_no").collect()
    assert [r.phase for r in ev] == [
        "parse", "bind", "execute",
        "parse", "bind", "execute",
        "statement", "execute",
    ]
    # parse/bind lines keep their statement text and duration
    assert ev[0].normalized_query == "select * from users where id = $?"
    assert ev[0].duration_ms == pytest.approx(0.055)
    assert ev[1].duration_ms == pytest.approx(0.021)
    assert ev[3].query == "INSERT INTO audit (msg) VALUES ($1)"
    # multi-line execute reassembles then attributes across newlines
    assert ev[7].n_lines == 3
    assert ev[7].phase == "execute"
    assert "FROM orders" in ev[7].query
    assert ev[7].duration_ms == pytest.approx(7.25)
    # phase keywords inside SQL text never match (anchored regex)
    from rds_pgbadger_etl_spark.functions.normalize import extract_phase

    df = spark.createDataFrame(
        [("SELECT * FROM bind_log WHERE x = 'execute me'",)], "payload string"
    ).select(extract_phase("payload").alias("p"))
    assert df.collect()[0].p is None


def test_new_report_sections_on_real_logs(spark):
    """phase_timing / duration_ranges / error_templates over REAL parsed
    fixture logs (the CLI's HTML-report path, not the synthesized oracle
    corpus)."""
    ev = parse_logs(spark, fixture("prepared.log"))
    pt = {r.phase: r for r in reports.phase_timing(ev).collect()}
    assert set(pt) == {"parse", "bind", "execute", "statement"}
    assert pt["execute"].n_calls == 3
    assert pt["parse"].total_ms == pytest.approx(0.055 + 0.048)
    dr = {r.duration_range: r.n_queries for r in reports.duration_ranges(ev).collect()}
    assert dr["0-1ms"] == 5          # the four sub-ms prepare/bind + 0.902
    assert dr["1-5ms"] == 1 and dr["5-10ms"] == 1 and dr["10-100ms"] == 1
    errs = parse_logs(spark, fixture("errors.log"))
    templates = reports.error_templates(errs).collect()
    assert all(r.n_errors >= 1 for r in templates)
    assert not any(
        any(ch.isdigit() for ch in r.template) for r in templates
    )  # literals collapsed


def test_error_prose_never_extracts_statement(spark):
    """Real Postgres error prose containing 'bind'/'parse' mid-message
    must not be mistaken for a statement marker (the marker regex is
    anchored at payload start, optionally after the duration prefix)."""
    from rds_pgbadger_etl_spark.functions.normalize import (
        extract_phase,
        extract_statement,
    )

    cases = [
        'could not bind IPv4 address "0.0.0.0": Address already in use',
        "could not parse relation options: foo=bar",
        "unexpected EOF; statement: not really",  # marker not at start
        "duration: 1.5 ms  execute p1: SELECT 1",  # genuine marker
        "statement: SELECT 2",  # log_statement=all (no duration)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "payload string").select(
        extract_statement("payload").alias("stmt"),
        extract_phase("payload").alias("ph"),
    )
    got = df.collect()
    assert [r.stmt for r in got] == [None, None, None, "SELECT 1", "SELECT 2"]
    assert [r.ph for r in got] == [None, None, None, "execute", "statement"]


def _write_big_log(path, target_bytes):
    """Deterministic >=target_bytes stderr log: every 7th event is a
    multi-line statement (3 continuation lines), so ~4 MB split
    boundaries land inside multi-line statements many times over.
    Returns (n_events, n_lines)."""
    n_events = 0
    n_lines = 0
    written = 0
    with open(path, "w") as f:
        i = 0
        while written < target_bytes:
            ts = "2019-04-01 %02d:%02d:%02d" % (i // 3600 % 24, i // 60 % 60, i % 60)
            prefix = f"{ts} UTC:10.0.0.{i % 250 + 1}(5{i % 9000 + 1000}):app@proddb:[{i % 500 + 100}]:"
            if i % 7 == 3:
                lines = [
                    prefix + f"LOG:  duration: {i % 977}.{i % 100:02d} ms  statement: SELECT o_orderkey, o_totalprice",
                    "\tFROM orders_" + "x" * (i % 37),
                    f"\tWHERE o_custkey = {i} AND o_comment LIKE '%{'pad' * (i % 11)}%'",
                    "\tORDER BY o_orderdate DESC LIMIT 50",
                ]
            else:
                lines = [
                    prefix
                    + f"LOG:  duration: {i % 977}.{i % 100:02d} ms  statement: UPDATE t{i % 50} SET v = v + 1 WHERE id = {i}"
                ]
            for ln in lines:
                f.write(ln + "\n")
                written += len(ln) + 1
            n_events += 1
            n_lines += len(lines)
            i += 1
    return n_events, n_lines


def _event_checksum(ev):
    """Order-insensitive parity fingerprint of a parsed-event table."""
    return (
        ev.select(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_lines").alias("lines"),
            F.sum(F.length("message")).alias("msg_len"),
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "\x01",
                        F.col("line_no").cast("string"),
                        F.col("level"),
                        F.col("message"),
                        F.col("duration_ms").cast("string"),
                    )
                )
            ).alias("crc"),
        )
        .collect()[0]
        .asDict()
    )


def test_reassembly_under_forced_file_splits(spark, tmp_path):
    """P2 under REAL file splits (VERDICT r4 item 1): with the windowed
    plan, a 64 MB log hour read with maxPartitionBytes forced to 4 MB
    (>=16 splits) must parse identically to the unsplit read —
    including the multi-line statements that straddle split boundaries. line_no is keyed on
    (_metadata.file_block_start, monotonic id), which is contractual
    regardless of Spark's split-to-partition bin-packing order."""
    p = str(tmp_path / "big_hour.log")
    n_events, n_lines = _write_big_log(p, 64 * 1024 * 1024)
    assert n_events > 400_000

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # partition count of the raw scan (pre-window shuffle): must split
        assert spark.read.text(p).rdd.getNumPartitions() >= 8, "fixture did not split"
        split_sum = _event_checksum(parse_logs_windowed(spark, p))

        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 31))
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        assert spark.read.text(p).rdd.getNumPartitions() == 1
        unsplit_sum = _event_checksum(parse_logs_windowed(spark, p))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.unset("spark.sql.files.minPartitionNum")

    assert split_sum["n"] == n_events
    assert split_sum["lines"] == n_lines
    assert split_sum == unsplit_sum

    # Explicit straddle check: under the split read, every 7th event is
    # the 4-line statement and must reassemble whole (no event may be
    # truncated at a split boundary).
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        ml = (
            parse_logs_windowed(spark, p)
            .filter(F.col("n_lines") > 1)
            .select(
                F.count(F.lit(1)).alias("n"),
                F.min("n_lines").alias("mn"),
                F.max("n_lines").alias("mx"),
                F.sum(
                    F.col("message").contains("ORDER BY o_orderdate DESC LIMIT 50").cast("int")
                ).alias("complete"),
            )
            .collect()[0]
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert ml.mn == 4 and ml.mx == 4
    assert ml.complete == ml.n == (n_events + 3) // 7


def _straddling_events(path: str, split_bytes: int) -> int:
    """Multi-line events of ``path`` whose lines start in more than one
    ``split_bytes`` scan split."""
    with open(path, "rb") as f:
        lines = f.readlines()
    n, off, first, last = 0, 0, 0, None
    for line in lines + [b"end"]:
        if line[:1] in (b"\t", b" "):
            last = off
        else:
            if last is not None and first // split_bytes != last // split_bytes:
                n += 1
            first, last = off, None
        off += len(line)
    return n


def _per_file_figures(ev) -> dict:
    """Per source-file name: the figures ``loggen`` records as truth,
    from the parsed events (error keys as ``error_report`` groups
    them)."""
    from rds_pgbadger_etl_spark.functions.normalize import duration_bucket

    name = F.element_at(F.split("source_file", "/"), -1).alias("name")
    out: dict = {}
    for r in ev.groupBy(name).agg(
        F.sum("n_lines").alias("lines"),
        F.count(F.lit(1)).alias("events"),
        F.count("duration_ms").alias("n_durations"),
        F.sum("duration_ms").alias("total_ms"),
    ).collect():
        out[r.name] = {**r.asDict(), "levels": {}, "buckets": {}, "errors": {}}
    for r in ev.groupBy(name, "level").count().collect():
        out[r.name]["levels"][r.level] = r["count"]
    for r in (
        ev.filter(F.col("duration_ms").isNotNull())
        .groupBy(name, duration_bucket("duration_ms", 0).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("duration_ms").alias("ms"))
        .collect()
    ):
        out[r.name]["buckets"][r.b] = (r.n, r.ms)
    for n in out:
        one = ev.filter(F.element_at(F.split("source_file", "/"), -1) == n)
        for r in reports.error_report(one, n=1000).collect():
            out[n]["errors"][(r.level, r.normalized_message)] = r.n
    return out


def test_parse_plans_match_loggen_truth(spark, tmp_path):
    """Both reassembly plans reproduce perfbench/loggen's ground truth on
    five seeded hours (statements, multi-line statements, prepare/bind/
    execute, errors with DETAIL and STATEMENT, connections, temp files,
    checkpoints, autovacuum), read with scan splits small enough that
    every file has at least 8 and multi-line statements cross split
    boundaries: raw lines, events, events per level, durations (count,
    sum, per pgBadger bucket) and error counts per (level, normalized
    message)."""
    from perfbench import loggen

    logs = tmp_path / "logs"
    logs.mkdir()
    truth = {}
    for hour, seed in enumerate((3, 17, 42, 301, 9001)):
        name = loggen.hour_name(hour)
        truth[name] = loggen.write_hour(str(logs / name), hour, 400, seed)
    paths = sorted(str(p) for p in logs.iterdir())
    split_bytes = min(os.path.getsize(p) for p in paths) // 9
    assert sum(_straddling_events(p, split_bytes) for p in paths) > 0

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
        for p in paths:
            assert spark.read.text(p).rdd.getNumPartitions() >= 8, p
        for parser in (parse_logs_windowed, parse_logs_splitwise):
            ev = parser(spark, str(logs)).cache()
            try:
                got = _per_file_figures(ev)
            finally:
                ev.unpersist()
            assert set(got) == set(truth), parser.__name__
            for name, want in truth.items():
                g = got[name]
                where = (parser.__name__, name)
                assert g["lines"] == want["lines"], where
                assert g["events"] == want["events"], where
                assert g["levels"] == want["levels"], where
                assert g["n_durations"] == want["n_durations"], where
                assert g["total_ms"] == pytest.approx(want["total_ms"], rel=1e-9), where
                assert sorted(g["buckets"]) == sorted(want["buckets"]), where
                for b, (n, ms) in want["buckets"].items():
                    assert g["buckets"][b][0] == n, where
                    assert g["buckets"][b][1] == pytest.approx(ms, rel=1e-9), where
                assert g["errors"] == want["errors"], where
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        release_parse_caches()


ADVERSARIAL = (
    "2019-04-01 10:00:00 UTC:10.0.0.1(50314):app@proddb:[42]:LOG:  duration: 1.5 ms  statement: SELECT \x01 FROM t\n"
    "\tWHERE x = '\x01\x01'\n"
    "2019-04-01 10:00:01 UTC:we\x01ird(1):ap\x01p@prod:[43]:LOG:  x\n"
    "2019-04-01 10:00:02 UTC:[local]:app@proddb:[44]:LOG:\n"
    "2019-04-01 10:00:03:10.0.0.2:app@proddb:[45]:ERROR:  boom\n"
    "not a header at all\n"
    "still not one\n"
    "\tbut indented joins the garbage run\n"
    "2019-04-01 10:00:04 UTC:10.0.0.3(1):b@c:[46]:STATEMENT:  INSERT INTO t VALUES (1)\n"
)

ADVERSARIAL_COLUMNS = (
    "event_seq", "event_ts", "remote_host", "remote_port", "log_user",
    "database", "pid", "level", "line_no", "n_lines", "message",
    "duration_ms", "phase", "query", "normalized_query",
)


def _ts(sec: int) -> datetime.datetime:
    return datetime.datetime(2019, 4, 1, 10, 0, sec)


ADVERSARIAL_ROWS = [
    (1, _ts(0), "10.0.0.1", 50314, "app", "proddb", 42, "LOG", 1, 2,
     " duration: 1.5 ms  statement: SELECT \x01 FROM t\n\tWHERE x = '\x01\x01'",
     1.5, "statement", "SELECT \x01 FROM t\n\tWHERE x = '\x01\x01'",
     "select \x01 from t where x = ?"),
    (2, _ts(1), "we\x01ird", 1, "ap\x01p", "prod", 43, "LOG", 3, 1, " x",
     None, None, None, None),
    (3, _ts(2), "[local]", None, "app", "proddb", 44, "LOG", 4, 1, "",
     None, None, None, None),
    (4, _ts(3), "10.0.0.2", None, "app", "proddb", 45, "ERROR", 5, 1, " boom",
     None, None, None, None),
    (5, None, None, None, None, None, None, "MALFORMED", 6, 3,
     "not a header at all\nstill not one\n\tbut indented joins the garbage run",
     None, None, None, None),
    (6, _ts(4), "10.0.0.3", 1, "b", "c", 46, "STATEMENT", 9, 1,
     " INSERT INTO t VALUES (1)", None, None, " INSERT INTO t VALUES (1)",
     "insert into t values (?)"),
]


def test_adversarial_rows_on_both_plans(spark, tmp_path):
    """The prefix extraction's edge cases, as literal rows through both
    reassembly plans: the delimiter byte \\x01 in the payload, in a
    continuation line and in a prefix field; an empty payload; a
    ``[local]`` host; a missing time zone and port; a run of garbage
    lines followed by an indented line (one MALFORMED event)."""
    p = tmp_path / "adversarial.log"
    p.write_text(ADVERSARIAL)
    for parser in (parse_logs_windowed, parse_logs_splitwise):
        ev = parser(spark, str(p)).drop("source_file")
        assert tuple(ev.columns) == ADVERSARIAL_COLUMNS, parser.__name__
        got = [tuple(r) for r in ev.orderBy("line_no").collect()]
        assert got == ADVERSARIAL_ROWS, parser.__name__
    release_parse_caches()


def test_splitwise_matches_fused(spark, tmp_path):
    """parse_logs_splitwise (shuffle-free split-parallel reassembly)
    must be row-identical to parse_logs_windowed on every golden fixture
    plus edge files its fragment-stitching must get right: a file starting
    with continuation lines (the event_seq=0 junk group), a file
    starting with garbage, and a single-event file."""
    edge1 = tmp_path / "leading_continuation.log"
    edge1.write_text(
        "\tWHERE orphan = 1\n"
        "\tORDER BY nothing\n"
        "2019-04-01 10:00:00 UTC:h(1):u@d:[1]:LOG:  duration: 1.0 ms  statement: SELECT 1\n"
        "\tFROM t\n"
    )
    edge2 = tmp_path / "leading_garbage.log"
    edge2.write_text(
        "corrupt line one\n"
        "corrupt line two\n"
        "\tindented joins the garbage run\n"
        "2019-04-01 10:00:01 UTC:h(1):u@d:[2]:LOG:  ok\n"
    )
    edge3 = tmp_path / "single_event.log"
    edge3.write_text("2019-04-01 10:00:02 UTC:h(1):u@d:[3]:LOG:  solo\n")

    paths = [fixture(n) for n in sorted(os.listdir(FIXTURES))] + [
        str(edge1), str(edge2), str(edge3)
    ]
    for p in paths:
        fused = parse_logs_windowed(spark, p)
        split = parse_logs_splitwise(spark, p)
        assert [(f.name, f.dataType) for f in fused.schema] == [
            (f.name, f.dataType) for f in split.schema
        ], p
        f_rows = [r.asDict() for r in fused.orderBy("line_no").collect()]
        s_rows = [r.asDict() for r in split.orderBy("line_no").collect()]
        assert f_rows == s_rows, p

    # whole-directory read (multi-file) must also agree
    d_f = [
        r.asDict()
        for r in parse_logs_windowed(spark, str(tmp_path))
        .orderBy("source_file", "line_no")
        .collect()
    ]
    d_s = [
        r.asDict()
        for r in parse_logs_splitwise(spark, str(tmp_path))
        .orderBy("source_file", "line_no")
        .collect()
    ]
    assert d_f == d_s


def test_splitwise_under_forced_file_splits(spark, tmp_path):
    """The splitwise path's whole point: under real file splits (64 MB
    file read as ~16 x 4 MB splits) it must reassemble straddling
    multi-line statements via fragment stitching and agree with the
    unsplit windowed parse — while never shuffling the raw lines."""
    p = str(tmp_path / "big_hour.log")
    n_events, n_lines = _write_big_log(p, 64 * 1024 * 1024)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        assert spark.read.text(p).rdd.getNumPartitions() >= 8
        split_sum = _event_checksum(parse_logs_splitwise(spark, p))

        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 31))
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        unsplit_sum = _event_checksum(parse_logs_windowed(spark, p))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.unset("spark.sql.files.minPartitionNum")

    assert split_sum["n"] == n_events
    assert split_sum["lines"] == n_lines
    assert split_sum == unsplit_sum


def test_splitwise_event_spanning_whole_splits(spark, tmp_path):
    """An event whose continuation spans ENTIRE splits: middle splits
    contain no header at all, so their lines are pure head-fragments
    and the stitch must chain them through to the opening header."""
    p = tmp_path / "monster.log"
    hdr = "2019-04-01 10:00:00 UTC:h(1):u@d:[9]:LOG:  duration: 9.9 ms  statement: SELECT giant"
    cont = ["\tline %06d of the monster statement" % i for i in range(120_000)]
    closer = "2019-04-01 10:59:59 UTC:h(1):u@d:[9]:LOG:  after the monster"
    p.write_text("\n".join([hdr, *cont, closer]) + "\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 4
        rows = (
            parse_logs_splitwise(spark, str(p)).orderBy("line_no").collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    assert len(rows) == 2
    assert rows[0].n_lines == 120_001
    assert rows[0].message.count("\n") == 120_000
    assert rows[0].duration_ms == 9.9
    assert rows[0].message.endswith("line 119999 of the monster statement")
    assert rows[1].message == " after the monster" and rows[1].line_no == 120_002


def test_corrupt_timestamp_yields_null_not_job_failure(spark, tmp_path):
    """A prefix-shaped line with an impossible timestamp ("33:00:00"
    passes the \\d{2} regex) must parse with event_ts NULL — under
    Spark's ANSI mode a plain to_timestamp would throw
    CANNOT_PARSE_TIMESTAMP and kill the entire job on one corrupt line.
    Both reassembly plans must agree."""
    p = tmp_path / "corrupt_ts.log"
    p.write_text(
        "2019-04-01 33:00:00 UTC:h(1):u@d:[1]:LOG:  bad clock\n"
        "2019-04-01 10:00:01 UTC:h(1):u@d:[2]:LOG:  fine\n"
    )
    for parser in (parse_logs_windowed, parse_logs_splitwise):
        rows = parser(spark, str(p)).orderBy("line_no").collect()
        assert [r.event_ts for r in rows] == [
            None,
            datetime.datetime(2019, 4, 1, 10, 0, 1),
        ]
        assert [r.level for r in rows] == ["LOG", "LOG"]
