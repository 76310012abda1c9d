"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. ``measure`` gives the end-to-end
figures with tracing off; ``trace`` gives the per-layer figures from a
separate traced pass (see spans.py).

- ``pgbadger_cron``: the reference's hourly cron: each tick stages one new
  closed-hour file and calls ``cli.run_incremental``, so the events table
  grows while each tick reads only its own hour; then a backfill
  (``cli.run_pipeline`` over a directory of hour files, HTML report
  included).
- ``ann_serve``: a persisted IVF-PQ index built (twice, for a steady
  build figure), then top-10 searches with an append batch after every
  few searches.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import time
import traceback
from datetime import datetime

import numpy as np
from rds_pgbadger_etl_spark.cli import _hours_predicate, _parse_hour
from rds_pgbadger_etl_spark.plans.reports import REPORT_SECTIONS

import cpu
import loggen
import stats
import vecgen
from spans import Tracer, event_log_conf

REF_DT = datetime(2030, 1, 1)  # every generated hour is closed
SETUPS = 5  # set-ups per run; setup_s is their median

SECTIONS = list(REPORT_SECTIONS)

# per-layer metric -> unit; a layer a workload does not run reports 0
PER_LAYER = {
    "session.start_s": "s",
    "logcatalog.select_s": "s",
    "logcatalog.jobs": "count",
    "logparse.parse_s": "s",
    "logparse.parse_share": "ratio",
    "logparse.lines_per_s": "1/s",
    "logparse.shuffle_write_mb": "MB",
    "logparse.spill_mb": "MB",
    "logparse.events_per_line": "ratio",
    "report_sink.write_events_s": "s",
    "report_sink.out_bytes_per_in_byte": "ratio",
    "report_sink.events_files": "count",
    "report_sink.render_html_s": "s",
    **{f"reports.{s}_s": "s" for s in SECTIONS},
    "reports.jobs": "count",
    "cron.jobs_per_tick": "count",
    "cron.tasks_per_tick": "count",
    "ann_index.build_s": "s",
    "ann_index.search_plan_s": "s",
    "ann_index.search_exec_s": "s",
    "ann_index.bytes_read_per_search": "B",
    "ann_index.jobs_per_search": "count",
    "ann_index.vector_files": "count",
    "ann_index.append_s": "s",
    "trace.overhead_s": "s",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


def _data_files(path: str) -> int:
    return sum(
        f.endswith(".parquet")
        for _root, _dirs, files in os.walk(path) for f in files
    )


class Run:
    """Counts operations and their failures, and times them."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.last_cpu = 0.0  # CPU seconds of the last operation

    def op(self, fn, *args):
        """Call ``fn``, which returns (result, errors); returns (seconds,
        result), with result None when the call raised or failed its
        checks. ``last_cpu`` is then the CPU time the call took, in this
        process and every process it started (the JVM, Python workers)."""
        self.attempted += 1
        c0 = cpu.tree_seconds()
        t0 = time.perf_counter()
        try:
            result, errors = fn(*args)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            result, errors = None, ["raised"]
        seconds = time.perf_counter() - t0
        self.last_cpu = cpu.tree_seconds() - c0
        if errors:
            print(f"check failed: {errors}", file=sys.stderr)
            self.failed += 1
            return seconds, None
        return seconds, result


def _loop(op, seconds: float, min_ops: int) -> list[float]:
    """Call ``op`` (which returns its latency, or None when there was
    nothing left to do) until ``seconds`` have passed and at least
    ``min_ops`` calls were made."""
    lat: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(lat) < min_ops or time.perf_counter() < t_end:
        x = op()
        if x is None:
            break
        lat.append(x)
    return lat


# ---------------------------------------------------------------------------
# output checks against the generator's ground truth


def _check_quality(quality: dict, truth: dict) -> list[str]:
    errors = []
    if quality.get("events") != truth["events"]:
        errors.append(f"events {quality.get('events')} != {truth['events']}")
    if quality.get("malformed") != 0 or quality.get("null_ts") != 0:
        errors.append(f"malformed/null_ts not 0: {quality}")
    return errors


def _check_report(report_dir: str, truth: dict) -> list[str]:
    """Every section written; duration_ranges and error_report match."""
    import pyarrow.parquet as pq

    errors = [
        f"section {s} missing" for s in SECTIONS
        if not os.path.exists(os.path.join(report_dir, s, "_SUCCESS"))
    ]
    if errors:
        return errors
    got = {
        r["bucket"]: (r["n_queries"], r["total_ms"])
        for r in pq.read_table(os.path.join(report_dir, "duration_ranges")).to_pylist()
    }
    want = truth["buckets"]
    if sorted(got) != sorted(want) or any(
        got[b][0] != want[b][0] or abs(got[b][1] - want[b][1]) > 1e-9 * max(1.0, want[b][1])
        for b in want
    ):
        errors.append(f"duration_ranges {got} != {want}")
    got_err = {
        (r["level"], r["normalized_message"]): r["n"]
        for r in pq.read_table(os.path.join(report_dir, "error_report")).to_pylist()
    }
    if got_err != truth["errors"]:
        errors.append(f"error_report {got_err} != {truth['errors']}")
    return errors


# ---------------------------------------------------------------------------
# pgBadger logs: hourly ticks, then a backfill


class PgBadgerCron:
    """The reference's operating mode: every tick stages one new
    closed-hour file and calls ``run_incremental``. The bulk operation is a
    backfill: ``run_pipeline`` with the HTML report over a directory of
    closed hours.

    A tick is bound by its fixed number of Spark jobs; the backfill does
    the same jobs once over six times a tick's lines, plus the HTML
    render. The first tick, on a small hour, warms up the code both
    share. The JIT keeps compiling over the next few ticks, so the
    backfill runs after the measured ticks, where it is warmest."""

    backfill_files = 3
    backfill_entries = 4000  # ~6.8k lines, ~0.86 MB per file
    tick_entries = 2000  # ~3.4k lines, ~0.43 MB per file
    warm_up_entries = 200  # the cold first tick's hour: its cost is fixed
    min_ticks = 2
    max_ticks = 10
    traced_ticks = 2

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.backfill_logs = os.path.join(work, "backfill", "logs")
        self.backfill_out = os.path.join(work, "backfill", "out")
        self.staging = os.path.join(work, "staging")
        self.logs = os.path.join(work, "cron", "logs")
        self.out = os.path.join(work, "cron", "out")

    def generate(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        truths = loggen.write_hours(self.backfill_logs, range(self.backfill_files),
                                    self.backfill_entries, self.seed)
        self.backfill_names = sorted(truths)
        self.backfill_truth = loggen.combine(list(truths.values()))
        first = self.backfill_files
        self.truths = {
            **loggen.write_hours(self.staging, range(first, first + 1),
                                 self.warm_up_entries, self.seed),
            **loggen.write_hours(self.staging, range(first + 1, first + self.max_ticks),
                                 self.tick_entries, self.seed),
        }
        self.pending = sorted(self.truths)
        self.done: list[str] = []
        self.op_cpu: list[float] = []
        os.makedirs(self.logs)

    # -- operations ---------------------------------------------------------

    def _backfill(self, spark, out: str):
        from rds_pgbadger_etl_spark.cli import run_pipeline

        html = out + ".html"
        quality = run_pipeline(spark, self.backfill_logs, out, REF_DT,
                               max_records=self.backfill_files, html_path=html)
        errors = []
        if quality.get("files") != self.backfill_files:
            errors.append(f"files {quality.get('files')} != {self.backfill_files}")
        errors += _check_quality(quality, self.backfill_truth)
        errors += _check_report(os.path.join(out, "report"), self.backfill_truth)
        if not os.path.exists(html):
            errors.append("html report missing")
        return quality, errors

    def _tick(self, spark):
        from rds_pgbadger_etl_spark.cli import run_incremental

        name = self.pending.pop(0)
        shutil.move(os.path.join(self.staging, name), self.logs)
        t0 = time.perf_counter()
        quality = run_incremental(spark, self.logs, self.out, REF_DT)
        seconds = time.perf_counter() - t0
        errors = []
        if (quality.get("files"), quality.get("skipped")) != (1, len(self.done)):
            errors.append(f"tick files/skipped {quality}")
        errors += _check_quality(quality, self.truths[name])
        self.done.append(name)
        with open(os.path.join(self.out, "_processed_files.txt")) as f:
            listed = set(f.read().split())
        if listed != set(self.done):
            errors.append(f"manifest lists {sorted(listed)}")
        for n in self.done:
            d, h = _parse_hour(n)
            report = os.path.join(self.out, "report", f"log_date={d}", f"log_hour={h}")
            if n == name:
                errors += _check_report(report, self.truths[n])
            elif not os.path.isdir(report):
                errors.append(f"report for {n} missing")
        return seconds, errors

    def _timed_tick(self, spark, run: Run) -> float | None:
        """Tick latency is the ``run_incremental`` call alone; staging the
        file and checking the outputs are not part of it, but are of the
        tick's CPU time in ``op_cpu``. None once every generated hour has
        been ticked."""
        if not self.pending:
            return None
        t_all, seconds = run.op(self._tick, spark)
        self.op_cpu.append(run.last_cpu)
        return t_all if seconds is None else seconds

    def warm_up(self, spark, run: Run) -> float:
        """The first tick, cold, of a small hour; returns its latency."""
        return self._timed_tick(spark, run)

    def measured(self, spark, run: Run, seconds: float):
        """Ticks for ``seconds``, then the backfill: (backfill seconds,
        backfill CPU seconds, tick latencies, tick CPU seconds)."""
        self.op_cpu = []
        lat = _loop(lambda: self._timed_tick(spark, run), seconds, self.min_ticks)
        bulk = run.op(self._backfill, spark, self.backfill_out)[0]
        return bulk, run.last_cpu, lat, self.op_cpu

    def detail(self, cold: float, bulk: float, lat: list[float]) -> dict:
        lines = self.backfill_truth["lines"]
        tail, pct = stats.tail(lat)
        return {
            "batch_lines_per_s": (lines / bulk, "1/s"),
            "batch_lines": (lines, "count"),
            "warm_up_tick_s": (cold, "s"),
            "tick_p50_s": (stats.median(lat), "s"),
            "tick_tail_s": (tail, "s"),
            "tick_tail_pct": (pct, "%"),
            "ticks": (len(lat), "count"),
        }

    # -- traced run -----------------------------------------------------------

    def _layered_backfill(self, spark, tracer: Tracer, out: str) -> dict:
        """The backfill's steps, each a traced call into its layer's public
        function: catalog select, the parse forced through a noop sink, the
        events write (which parses again), one write per report section,
        and the HTML render. Returns the write's parse-quality counters."""
        from rds_pgbadger_etl_spark.operators.logparse import (
            choose_parse_strategy,
            parse_logs,
            parse_logs_splitwise,
            release_parse_caches,
        )
        from rds_pgbadger_etl_spark.plans.reports import full_report
        from rds_pgbadger_etl_spark.sinks.report_sink import (
            render_html,
            write_events_partitioned,
            write_report,
        )

        self._select(spark, tracer, self.backfill_logs, self.backfill_files)
        paths = [os.path.join(self.backfill_logs, n) for n in self.backfill_names]
        parser = (parse_logs_splitwise
                  if choose_parse_strategy(spark, paths) == "splitwise"
                  else parse_logs)
        with tracer.span("operators.logparse", name="parse"):
            parser(spark, paths).write.format("noop").mode("overwrite").save()
        release_parse_caches()
        with tracer.span("sinks.report_sink", name="write_events"):
            quality = write_events_partitioned(
                parser(spark, paths), os.path.join(out, "events"))
        release_parse_caches()
        stored = spark.read.parquet(os.path.join(out, "events")).filter(
            _hours_predicate(self.backfill_names))
        sections = full_report(stored)
        for name, df in sections.items():
            with tracer.span("plans.reports", name=name):
                write_report({name: df}, os.path.join(out, "report"))
        with tracer.span("sinks.report_sink", name="render_html"):
            render_html(sections, out + ".html")
        return quality

    @staticmethod
    def _select(spark, tracer: Tracer, log_dir: str, max_records: int | None) -> None:
        from rds_pgbadger_etl_spark.sources.logcatalog import select_log_files

        with tracer.span("sources.logcatalog", name="select"):
            catalog = spark.createDataFrame(
                [(n,) for n in sorted(os.listdir(log_dir))], ["file_name"])
            select_log_files(catalog, REF_DT, max_records).collect()

    def _cron_dirs(self) -> list[str]:
        return [self.staging, os.path.dirname(self.logs)]

    def traced(self, spark, tracer: Tracer, run: Run) -> float:
        """The backfill layer by layer; then traced ticks, each followed by
        the catalog select it made. Returns the median traced tick.

        The cron state the ticks start from (staged hours, logs, events
        table, reports, manifest) is saved first, so that ``baseline`` can
        rerun the same ticks on the same state."""
        out = os.path.join(self.work, "backfill", "layered")

        def layered():
            quality = self._layered_backfill(spark, tracer, out)
            errors = _check_quality(quality, self.backfill_truth)
            errors += _check_report(os.path.join(out, "report"), self.backfill_truth)
            return quality, errors

        self._layered_out = out
        self._quality = run.op(layered)[1] or {"events": 0}
        self._saved = (list(self.pending), list(self.done))
        for d in self._cron_dirs():
            shutil.copytree(d, d + ".saved")
        ticks = []
        for _ in range(self.traced_ticks):
            with tracer.span("cron", name="tick"):
                ticks.append(self._timed_tick(spark, run))
            self._select(spark, tracer, self.logs, None)
        return stats.median(ticks)

    def baseline(self, spark, run: Run) -> float:
        """The traced ticks again, untraced, from the state they started
        from: their median."""
        for d in self._cron_dirs():
            shutil.rmtree(d)
            os.rename(d + ".saved", d)
        self.pending, self.done = self._saved
        return stats.median(
            _loop(lambda: self._timed_tick(spark, run), 0, self.traced_ticks))

    def trace_metrics(self, spans: list[dict]) -> dict[str, float]:
        one = {(s["layer"], s.get("name")): s for s in spans}
        parse = one[("operators.logparse", "parse")]
        lines = self.backfill_truth["lines"]
        events_dir = os.path.join(self._layered_out, "events")
        sections = [s for s in spans if s["layer"] == "plans.reports"]
        ticks = [s for s in spans if s["layer"] == "cron"]
        # the first select is the backfill's; the rest follow the ticks
        selects = [s for s in spans if s["layer"] == "sources.logcatalog"]
        tick_selects = selects[1:]
        # the backfill's own steps: the noop parse is the extra one
        backfill_s = (selects[0]["seconds"]
                      + one[("sinks.report_sink", "write_events")]["seconds"]
                      + sum(s["seconds"] for s in sections)
                      + one[("sinks.report_sink", "render_html")]["seconds"])
        m = {
            "logcatalog.select_s": stats.median([s["seconds"] for s in tick_selects]),
            "logcatalog.jobs": stats.median([s["jobs"] for s in tick_selects]),
            "logparse.parse_s": parse["seconds"],
            "logparse.parse_share": parse["seconds"] / backfill_s,
            "logparse.lines_per_s": lines / parse["seconds"],
            "logparse.shuffle_write_mb": parse["shuffle_write_bytes"] / 1e6,
            "logparse.spill_mb": parse["spill_bytes"] / 1e6,
            "logparse.events_per_line": self._quality["events"] / lines,
            "report_sink.write_events_s": one[("sinks.report_sink", "write_events")]["seconds"],
            "report_sink.out_bytes_per_in_byte":
                _dir_bytes(events_dir) / _dir_bytes(self.backfill_logs),
            "report_sink.events_files": _data_files(events_dir),
            "report_sink.render_html_s": one[("sinks.report_sink", "render_html")]["seconds"],
            "reports.jobs": sum(s["jobs"] for s in sections),
            "cron.jobs_per_tick": stats.median([s["jobs"] for s in ticks]),
            "cron.tasks_per_tick": stats.median([s["tasks"] for s in ticks]),
        }
        for s in sections:
            m[f"reports.{s['name']}_s"] = s["seconds"]
        return m


# ---------------------------------------------------------------------------
# ANN serving


class AnnServe:
    """IVF-PQ index builds, then top-10 searches with appends between."""

    n_vecs = 40_000
    warm_up_vecs = 4_000  # the cold first build's corpus: its cost is fixed
    append_every = 4  # searches between append batches
    append_n = 1_000
    k = 10
    builds = 2  # the JIT is still compiling: their mean is steadier than one
    min_searches = 4  # one append at least
    traced_searches = 8

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.corpus = os.path.join(work, "corpus.parquet")
        self.warm_up_corpus = os.path.join(work, "warm-up.parquet")
        self.appends = []
        self.recalls: list[float] = []

    def generate(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.src = vecgen.VectorSource(self.seed)
        ids, x = self.src.batch(self.n_vecs)
        vecgen.write_parquet(self.corpus, ids, x)
        vecgen.write_parquet(self.warm_up_corpus, ids[:self.warm_up_vecs],
                             x[:self.warm_up_vecs])
        self.live = [(ids, x)]
        self.n_queries = 0
        self.op_cpu: list[float] = []

    def _build(self, spark, index: str, corpus: str):
        from rds_pgbadger_etl_spark.operators.ann_index import build_ann_index

        shutil.rmtree(index, ignore_errors=True)
        build_ann_index(spark, spark.read.parquet(corpus), index, n_centroids=None)
        errors = [] if os.path.isdir(os.path.join(index, "vectors")) else ["no vectors table"]
        return None, errors

    def _search(self, spark, q, tracer: Tracer | None = None):
        from rds_pgbadger_etl_spark.operators.ann_index import ann_index_ivfpq_topk

        if tracer is None:
            rows = ann_index_ivfpq_topk(spark, self.index, [q], k=self.k).collect()
        else:
            with tracer.span("operators.ann_index", name="search_plan"):
                df = ann_index_ivfpq_topk(spark, self.index, [q], k=self.k)
            with tracer.span("operators.ann_index", name="search_exec"):
                rows = df.collect()
        got = [r.vec_id for r in rows]
        return got, [] if len(got) == self.k == len(set(got)) else [f"search returned {got}"]

    def _append(self, spark, path: str):
        from rds_pgbadger_etl_spark.operators.ann_index import append_to_ann_index

        append_to_ann_index(spark, spark.read.parquet(path), self.index)
        return None, []

    def _search_and_score(self, spark, run: Run, tracer: Tracer | None = None) -> float:
        """One timed search, then its recall against exact search over the
        vectors indexed so far (outside the timing)."""
        q = self.src.query(self.n_queries)
        self.n_queries += 1
        seconds, got = run.op(self._search, spark, q, tracer)
        self.op_cpu.append(run.last_cpu)
        if got is not None:
            ids = np.concatenate([i for i, _ in self.live])
            x = np.concatenate([v for _, v in self.live])
            live = set(ids.tolist())
            if not live.issuperset(got):
                run.failed += 1
                print(f"search returned unknown ids {got}", file=sys.stderr)
            exact = vecgen.exact_topk(ids, x, q[1], self.k)
            self.recalls.append(len(exact & set(got)) / self.k)
        return seconds

    def _append_batch(self, spark, run: Run, tracer: Tracer | None = None) -> None:
        ids, x = self.src.batch(self.append_n)
        path = os.path.join(self.work, f"append-{ids[0]}.parquet")
        vecgen.write_parquet(path, ids, x)
        if tracer is None:
            seconds, res = run.op(self._append, spark, path)
        else:
            with tracer.span("operators.ann_index", name="append"):
                seconds, res = run.op(self._append, spark, path)
        self.live.append((ids, x))
        self.appends.append(seconds)

    def warm_up(self, spark, run: Run) -> float:
        """A cold build over a prefix of the corpus; returns its time."""
        index = os.path.join(self.work, "index-warm-up")
        return run.op(self._build, spark, index, self.warm_up_corpus)[0]

    def measured(self, spark, run: Run, seconds: float):
        """The index build, twice; one search (the first after a build
        runs cold); then searches and appends for ``seconds``: (median
        build seconds, mean build CPU seconds, search latencies, search
        CPU seconds)."""
        self.index = os.path.join(self.work, "index")
        walls, cpus = [], []
        for _ in range(self.builds):
            walls.append(run.op(self._build, spark, self.index, self.corpus)[0])
            cpus.append(run.last_cpu)
        build, build_cpu = stats.median(walls), sum(cpus) / len(cpus)
        self._ops(spark, run, 0, 1)
        self.op_cpu = []
        lat = self._ops(spark, run, seconds, self.min_searches)
        return build, build_cpu, lat, self.op_cpu

    def _ops(self, spark, run: Run, seconds: float, min_ops: int,
             tracer: Tracer | None = None) -> list[float]:
        def op():
            seconds = self._search_and_score(spark, run, tracer)
            if self.n_queries % self.append_every == 0:
                self._append_batch(spark, run, tracer)
            return seconds

        return _loop(op, seconds, min_ops)

    def detail(self, cold: float, bulk: float, lat: list[float]) -> dict:
        tail, pct = stats.tail(lat)
        return {
            "index_build_s": (bulk, "s"),
            "warm_up_build_s": (cold, "s"),
            "index_vectors": (self.n_vecs, "count"),
            "search_p50_s": (stats.median(lat), "s"),
            "search_tail_s": (tail, "s"),
            "search_tail_pct": (pct, "%"),
            "searches": (len(lat), "count"),
            "append_p50_s": (stats.median(self.appends), "s"),
            "appends": (len(self.appends), "count"),
            "recall_at_10": (sum(self.recalls) / len(self.recalls), "ratio"),
        }

    def traced(self, spark, tracer: Tracer, run: Run) -> float:
        """A traced build of a fresh index over the same corpus, then
        traced searches and appends. Returns the median traced search.

        The built index and the query source are saved before the
        searches, so that ``baseline`` can rerun the same searches and
        appends on the same index."""
        self.generate()
        self.index = os.path.join(self.work, "index-traced")
        with tracer.span("operators.ann_index", name="build"):
            run.op(self._build, spark, self.index, self.corpus)
        shutil.copytree(self.index, self.index + ".saved")
        self._saved = (copy.deepcopy(self.src), list(self.live), self.n_queries)
        lat = self._ops(spark, run, 0, self.traced_searches, tracer)
        self._vector_files = _data_files(os.path.join(self.index, "vectors"))
        return stats.median(lat)

    def baseline(self, spark, run: Run) -> float:
        """The traced searches and appends again, untraced, from the
        index they started on: the median search."""
        shutil.rmtree(self.index)
        os.rename(self.index + ".saved", self.index)
        self.src, self.live, self.n_queries = self._saved
        return stats.median(self._ops(spark, run, 0, self.traced_searches))

    def trace_metrics(self, spans: list[dict]) -> dict[str, float]:
        def of(name):
            return [s for s in spans if s.get("name") == name
                    and s["layer"] == "operators.ann_index"]

        plans, execs = of("search_plan"), of("search_exec")
        per_search = list(zip(plans, execs))
        return {
            "ann_index.build_s": of("build")[0]["seconds"],
            "ann_index.search_plan_s": stats.median([s["seconds"] for s in plans]),
            "ann_index.search_exec_s": stats.median([s["seconds"] for s in execs]),
            "ann_index.bytes_read_per_search": stats.median(
                [p["input_bytes"] + e["input_bytes"] for p, e in per_search]),
            "ann_index.jobs_per_search": stats.median(
                [p["jobs"] + e["jobs"] for p, e in per_search]),
            "ann_index.vector_files": self._vector_files,
            "ann_index.append_s": stats.median([s["seconds"] for s in of("append")]),
        }


WORKLOADS = {"pgbadger_cron": PgBadgerCron, "ann_serve": AnnServe}


# ---------------------------------------------------------------------------
# the two kinds of run


def _setups(sessions, wl) -> tuple[list[float], list[float]]:
    """SETUPS set-ups: (set-up seconds, session-start seconds) of each.

    A set-up is a session start plus the generation of the inputs. The
    stop of the session before it is not part of it; the first start also
    launches the JVM, which the median leaves out."""
    setups, starts = [], []
    for _ in range(SETUPS):
        _spark, start_s = sessions.start()
        t0 = time.perf_counter()
        wl.generate()
        setups.append(start_s + time.perf_counter() - t0)
        starts.append(start_s)
    return setups, starts


def measure(sessions, wl, seconds: float) -> tuple[Run, dict, dict]:
    """Untraced run: (counts, end-to-end metrics, the workload's figures
    as name -> (value, unit))."""
    run = Run()
    setups, _starts = _setups(sessions, wl)
    spark = sessions.spark
    # The process's first operation runs cold (JIT, code generation) and
    # varies too much from run to run to gate; it is reported in the
    # figures.
    cold = wl.warm_up(spark, run)
    bulk, bulk_cpu, lat, op_cpu = wl.measured(spark, run, seconds)
    metrics = {
        "setup_s": stats.median(setups),
        "bulk_cpu_s": bulk_cpu,
        "op_cpu_s": sum(op_cpu) / len(op_cpu),
    }
    figures = {
        "setup_s": (metrics["setup_s"], "s"),
        **wl.detail(cold, bulk, lat),
        "bulk_s": (bulk, "s"),
        "op_p50_s": (stats.median(lat), "s"),
        "bulk_cpu_s": (bulk_cpu, "s"),
        "op_cpu_s": (metrics["op_cpu_s"], "s"),
        "ops_failed_frac": (run.failed / run.attempted, "fraction"),
    }
    return run, metrics, figures


def trace(sessions, wl, trace_dir: str) -> tuple[Run, dict, list[dict]]:
    """Traced run: (counts, per-layer metrics, spans).

    The workload first runs its set-ups and its warm-up untraced. Then
    the session restarts with the event log on and the workload's
    ``traced`` step runs under a Tracer. Last, the session restarts
    without the event log and the traced step's timed operations run
    again untraced, from the state they started from; the overhead is the
    traced median minus this untraced one. The untraced pass runs later,
    on a JVM that has compiled more of the code, so the overhead reads
    high rather than low."""
    run = Run()
    _setups_s, starts = _setups(sessions, wl)
    spark = sessions.spark
    wl.warm_up(spark, run)
    event_dir = os.path.join(trace_dir, "eventlog")
    os.makedirs(event_dir)
    spark, _ = sessions.start(event_log_conf(event_dir))
    tracer = Tracer(spark)
    traced = wl.traced(spark, tracer, run)
    spark, _ = sessions.start()  # stopping the traced session completes its log
    untraced = wl.baseline(spark, run)
    spans = tracer.spans_with_counts(event_dir)
    metrics = dict.fromkeys(PER_LAYER, 0)
    metrics.update(wl.trace_metrics(spans))
    metrics["session.start_s"] = stats.median(starts)
    metrics["trace.overhead_s"] = traced - untraced
    return run, metrics, spans
