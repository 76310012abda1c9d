"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench -q

The attribution test starts a local Spark session (~15 s).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import cpu  # noqa: E402
import loggen  # noqa: E402
import stats  # noqa: E402
import vecgen  # noqa: E402
from spans import Tracer, event_log_conf, harvest, read_event_log  # noqa: E402


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = loggen.write_hours(str(tmp_path / "a"), range(3), 400, seed=5)
    b = loggen.write_hours(str(tmp_path / "b"), range(3), 400, seed=5)
    c = loggen.write_hours(str(tmp_path / "c"), range(3), 400, seed=6)
    assert a == b
    for name in a:
        assert _read(str(tmp_path / "a" / name)) == _read(str(tmp_path / "b" / name))
        assert _read(str(tmp_path / "a" / name)) != _read(str(tmp_path / "c" / name))


def test_generator_line_and_event_counts_do_not_depend_on_seed(tmp_path):
    counts = {
        (t["lines"], t["events"])
        for seed in (1, 2, 3)
        for t in loggen.write_hours(str(tmp_path / str(seed)), range(2), 1000, seed).values()
    }
    assert len(counts) == 1


def test_generator_truth_matches_file(tmp_path):
    truths = loggen.write_hours(str(tmp_path), range(2), 1500, seed=1)
    for name, t in truths.items():
        text = _read(str(tmp_path / name)).decode()
        lines = text.splitlines()
        assert t["lines"] == len(lines)
        headers = [ln for ln in lines if not ln.startswith("\t")]
        assert t["events"] == len(headers) == sum(t["levels"].values())
        assert t["n_durations"] == sum(" duration: " in h for h in headers)
        assert t["n_durations"] == sum(n for n, _ in t["buckets"].values())
        assert sum(t["errors"].values()) == sum(
            t["levels"].get(lv, 0) for lv in loggen.ERROR_LEVELS)
        # error_report keeps the top 20 keys; the truth must fit in them
        assert len(t["errors"]) <= 20
        for needle in ("statement: ", "\tFROM ", " parse p", " bind p", " execute p",
                       ":ERROR:  ", ":DETAIL:  ", ":STATEMENT:  ", "connection authorized",
                       "disconnection:", "temporary file:", "checkpoint complete",
                       "automatic vacuum"):
            assert needle in text, needle


def test_generator_popularity_is_skewed_and_moves_between_hours(tmp_path):
    import collections
    import re

    loggen.write_hours(str(tmp_path), range(2), 3000, seed=3)
    tops = []
    for h in range(2):
        text = _read(str(tmp_path / loggen.hour_name(h))).decode()
        counts = collections.Counter(
            re.sub(r"'g\d+'|\b\d+\b", "?", s)  # literals -> ?
            for s in re.findall(r"  statement: ([^\n]+)", text)
            if not s.startswith("SELECT o.id"))  # the multi-line statement
        (top, n_top), = counts.most_common(1)
        assert n_top > 5 * sum(counts.values()) / len(counts)
        tops.append(top)
    assert tops[0] != tops[1]


def test_duration_buckets_are_half_open():
    assert [loggen.bisect_right(loggen._BUCKET_BOUNDS, ms)
            for ms in (0.999, 1.0, 4.999, 5.0, 99.0, 1000.0, 5e4)] == [0, 1, 1, 2, 3, 5, 5]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = stats.tail(xs)
    assert (value, pct) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10
    value, pct = stats.tail(list(reversed(xs[:20])))
    assert (value, pct) == (10.0, 50.0)
    assert sum(x > value for x in xs[:20]) == 10


def test_tail_without_enough_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert stats.tail([float(i) for i in range(19)]) == (18.0, 100.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_cpu_time_counts_live_and_reaped_children():
    """A child that burns 0.5 s of CPU and waits counts while it is live,
    and still counts once it has exited and been reaped."""
    import subprocess

    child_code = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print('busy done', flush=True)\n"
        "sys.stdin.read()\n"
    )
    before = cpu.tree_seconds()
    child = subprocess.Popen([sys.executable, "-c", child_code],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline() == b"busy done\n"  # blocks: no CPU here
        live = cpu.tree_seconds() - before
    finally:
        child.communicate(b"")
    reaped = cpu.tree_seconds() - before
    assert 0.5 <= live <= reaped


def test_vectors_and_exact_topk_are_seeded():
    a, b = vecgen.VectorSource(4), vecgen.VectorSource(4)
    ids_a, x_a = a.batch(200)
    ids_b, x_b = b.batch(200)
    assert (ids_a == ids_b).all() and (x_a == x_b).all()
    q_id, q = a.query(0)
    assert q_id >= vecgen.QUERY_ID_BASE
    top = vecgen.exact_topk(ids_a, x_a, q, 10)
    assert len(top) == 10 and top <= set(ids_a.tolist())


def test_harvest_attributes_stages_by_job_group():
    def stage_done(sid, tasks, shuffle):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": tasks, "Accumulables": [
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle}]}}

    def submitted(sid, group):
        return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
                "Properties": {"spark.jobGroup.id": group}}

    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "g1"}},
        submitted(0, "g1"), stage_done(0, 4, 100), submitted(1, "g1"), stage_done(1, 2, 0),
        {"Event": "SparkListenerJobStart", "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        stage_done(2, 8, 5),
    ]
    got = harvest(events)
    assert list(got) == ["g1"]
    assert got["g1"]["jobs"] == 1
    assert (got["g1"]["stages"], got["g1"]["tasks"]) == (2, 6)
    assert got["g1"]["shuffle_write_bytes"] == 100


def test_event_log_attribution_matches_a_known_two_job_plan(tmp_path):
    """Span ``scan`` runs one map-only job (1 stage, 3 tasks, no shuffle);
    span ``agg`` runs one job with a shuffle (a 4-task map stage and a
    2-task reduce stage). A job outside every span is attributed to none."""
    from pyspark.sql import functions as F

    from session import Sessions

    work = str(tmp_path)
    os.makedirs(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    sessions = Sessions(work)
    try:
        spark, _ = sessions.start({
            **event_log_conf(event_dir),
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "2",
        })
        tracer = Tracer(spark)
        with tracer.span("scan"):
            spark.range(0, 100, 1, 3).collect()
        with tracer.span("outer"):
            with tracer.span("agg"):
                spark.range(0, 1000, 1, 4).groupBy(F.col("id") % 2).count().collect()
        spark.range(0, 10, 1, 1).collect()
        sessions.stop()
        spans = {s["layer"]: s for s in tracer.spans_with_counts(event_dir)}
    finally:
        sessions.close()
    scan, outer, agg = spans["scan"], spans["outer"], spans["agg"]
    assert (scan["jobs"], scan["stages"], scan["tasks"]) == (1, 1, 3)
    assert scan["shuffle_write_bytes"] == 0
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 2, 6)
    assert agg["shuffle_write_bytes"] > 0 and agg["shuffle_read_bytes"] > 0
    assert (outer["jobs"], outer["tasks"]) == (0, 0)
    assert agg["parent"] == outer["id"]
    assert outer["self_seconds"] == pytest.approx(outer["seconds"] - agg["seconds"])
    total_jobs = sum(ev.get("Event") == "SparkListenerJobStart"
                     for ev in read_event_log(event_dir))
    assert total_jobs == 3
