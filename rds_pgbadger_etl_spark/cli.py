"""CLI entry point (SURVEY O1): the reference's whole pipeline, one command.

The reference wires CLI/env parameters into a Luigi graph
(rds_pgbadger.py:132-149) that selects the newest closed-hour log files,
runs pgBadger per file, and publishes per-file HTML reports
(rds_pgbadger.py:83-129). Here the same surface is one declarative Spark
job:

    python -m rds_pgbadger_etl_spark.cli \
        --log-dir /staged/logs --out-dir /reports \
        --reference-datetime 2024-01-15-12 --max-records 5 --html report.html

- ``--log-dir``: directory of staged ``…postgresql.log.YYYY-MM-DD-HH``
  files (stage from RDS with sources/rds_ingest.py, which adds the
  retries/status checks the reference lacks — rds_download_log.py:119-125).
- Selection = sources/logcatalog.select_names (O2–O8 over the listing).
  A file's hour is the trailing YYYY-MM-DD-HH of its name, read only
  through logcatalog, for selection, the events' partition and the
  per-hour report alike.
- Parsing = operators/logparse.parse_logs (P1–P4), which picks its
  reassembly plan from the selected files' sizes.
- Events are written hour-partitioned (P12) with dynamic partition
  overwrite for idempotent re-runs (O15).
- Report = plans/reports.full_report (P5–P11), collected in one Spark
  action and written one parquet table per section, plus the
  reference-shaped single HTML artifact on request, from the same rows.

Parameters fall back to environment variables like the reference's click
``envvar`` bindings (rds_pgbadger.py:133-134).
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timezone

from rds_pgbadger_etl_spark.sources.logcatalog import hour_partition as _parse_hour


def _parse_reference(value: str | None) -> datetime:
    """``YYYY-MM-DD-HH`` (the reference's file-name granularity,
    rds_pgbadger.py:141-142) or ISO; default = now UTC (rds_pgbadger.py:81)."""
    if not value:
        return datetime.now(timezone.utc).replace(tzinfo=None)
    for fmt in ("%Y-%m-%d-%H", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    raise SystemExit(f"unparseable --reference-datetime {value!r}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="rds-pgbadger-etl-spark",
        description="PySpark-native PostgreSQL log analytics pipeline",
    )
    p.add_argument("--log-dir", default=os.environ.get("SPARK_GRAFT_LOG_DIR"),
                   help="directory of staged postgresql.log.YYYY-MM-DD-HH files")
    p.add_argument("--out-dir", default=os.environ.get("SPARK_GRAFT_OUT_DIR"),
                   help="output directory (events/ + report/ written under it)")
    p.add_argument("--reference-datetime",
                   default=os.environ.get("SPARK_GRAFT_REFERENCE_DATETIME"),
                   help="process hours strictly before this (default: now UTC)")
    p.add_argument("--max-records", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_MAX_RECORDS", "5")),
                   help="newest-K closed-hour files to process (reference default 5)")
    p.add_argument("--html", default=None,
                   help="also render the one-file HTML report here")
    p.add_argument("--incremental", action="store_true",
                   help="cron mode: process every closed-hour file not yet "
                        "in the out-dir manifest (idempotent re-runs)")
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    p.add_argument("--list-queries", action="store_true",
                   help="list every registered analytics query and exit")
    p.add_argument("--query", default=None, metavar="NAME",
                   help="run one registered query (see --list-queries) "
                        "against --sf-dir and print its rows as JSON lines")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="table directory for --query (parquet tables)")
    p.add_argument("--limit", type=int, default=50,
                   help="max rows to print for --query (default 50)")
    p.add_argument("--compact", default=None, metavar="TABLE_DIR",
                   help="maintenance verb: compact the partitioned "
                        "parquet table at TABLE_DIR to size-targeted "
                        "files (the small-file repair an hourly cron "
                        "run schedules) and exit")
    p.add_argument("--compact-partition-cols", default="log_date,log_hour",
                   metavar="COLS",
                   help="comma-separated partition columns of the "
                        "--compact table (default: the events layout "
                        "log_date,log_hour)")
    p.add_argument("--compact-sort", default=None, metavar="COLS",
                   help="comma-separated within-file sort columns for "
                        "--compact (single-dimension row-group "
                        "skipping, e.g. event_ts)")
    p.add_argument("--cluster", default=None, metavar="COLS",
                   help="comma-separated columns to Z-ORDER-cluster "
                        "during --compact: per-run domain bounds feed "
                        "the interleaved-bit key and files become "
                        "disjoint in z-space, so scans filtering on ANY "
                        "of these columns skip whole files (supersedes "
                        "--compact-sort)")
    p.add_argument("--maintain-index", default=None, metavar="INDEX_DIR",
                   help="maintenance verb: service the persisted ANN "
                        "index at INDEX_DIR — rewrite every artifact "
                        "table to one file-set per partition, apply "
                        "pending delete tombstones physically, and "
                        "auto-retrain the SQ8 grid when the drift rule "
                        "fires (oob_frac > 1%% or corpus more than "
                        "doubled past the grid) — and exit")
    p.add_argument("--maintain-dedup", default=None, metavar="INDEX_DIR",
                   help="maintenance verb: service the persisted dedup "
                        "signature store at INDEX_DIR — compact bands/"
                        "profiles, apply pending tombstones, upgrade "
                        "the prefix fanout when the store has grown "
                        "past the small-store threshold — and exit")
    p.add_argument("--index-stats", default=None, metavar="INDEX_DIR",
                   help="observability verb: print the layout audit of "
                        "the persisted store at INDEX_DIR as JSON lines "
                        "(rows/files per partition, bytes/row, and the "
                        "SQ8 drift audit for ANN stores; store kind "
                        "auto-detected) and exit")
    return p


def run_compact(args) -> None:
    """The layout-maintenance verb: size-targeted compaction with
    optional single-column sort or multi-column Z-order clustering —
    the cron job a 100 TB events table needs beside the hourly parse."""
    from rds_pgbadger_etl_spark.session import get_spark
    from rds_pgbadger_etl_spark.sinks.layout import (
        compact_partitioned,
        partition_file_stats,
    )

    spark = get_spark(app_name="rds-pgbadger-etl-spark", cpus=args.cpus)
    pcols = [c for c in args.compact_partition_cols.split(",") if c]
    before = sum(
        r.n_files
        for r in partition_file_stats(spark, args.compact, pcols).collect()
    )
    mode = compact_partitioned(
        spark,
        args.compact,
        pcols,
        sort_cols=(
            [c for c in args.compact_sort.split(",") if c]
            if args.compact_sort
            else None
        ),
        cluster_cols=(
            [c for c in args.cluster.split(",") if c]
            if args.cluster
            else None
        ),
    )
    after = sum(
        r.n_files
        for r in partition_file_stats(spark, args.compact, pcols).collect()
    )
    # report what actually ran — a requested clustering can fall back
    # to the plain compaction (all-null cluster domain, e.g. a
    # non-numeric column), and the operator must not believe the table
    # gained multi-dimension skipping when it did not
    if args.cluster and mode != "zorder":
        print(
            f"WARNING: --cluster {args.cluster} did not apply "
            f"(no non-null numeric domain); plain compaction ran"
        )
    how = f"z-ordered on {args.cluster}" if mode == "zorder" else "compacted"
    print(f"{how} {args.compact}: {before} -> {after} files")


def run_maintain_index(args) -> None:
    """The persisted-ANN-store maintenance verb — the reference's whole
    shape is a cron container (Dockerfile:15), so the mutable artifacts
    must be serviceable without writing Python: one invocation compacts
    every table (generation flip), GCs tombstones physically, and acts
    on the SQ8 drift audit (compact_ann_index's no-knob retrain)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="rds-pgbadger-etl-spark", cpus=args.cpus)
    res = AI.compact_ann_index(spark, args.maintain_index)
    retrain = res.pop("sq8_retrain", None)
    bin_retrain = res.pop("binary_retrain", None)
    for t, st in sorted(res.items()):
        print(
            f"{t}: {st['files_before']} -> {st['files_after']} files"
        )
    if retrain:
        print(
            "sq8 grid retrained: oob_frac "
            f"{retrain['oob_frac']:.4f}, rows_past_grid "
            f"{retrain['rows_past_grid']}"
        )
    if bin_retrain:
        print(
            "binary thresholds retrained: ones_frac "
            f"{bin_retrain['ones_frac']:.4f}, rows_past_train "
            f"{bin_retrain['rows_past_train']}"
        )


def run_maintain_dedup(args) -> None:
    """The persisted-dedup-store maintenance verb: compaction +
    tombstone GC + the growth-triggered prefix-fanout upgrade, from the
    shell (same cron shape as --maintain-index)."""
    from rds_pgbadger_etl_spark.operators.dedup_index import (
        compact_dedup_index,
    )
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="rds-pgbadger-etl-spark", cpus=args.cpus)
    res = compact_dedup_index(spark, args.maintain_dedup)
    for t, st in sorted(res.items()):
        print(
            f"{t}: {st['files_before']} -> {st['files_after']} files"
        )


def run_index_stats(args) -> None:
    """The observability half of the store-maintenance surface: the
    layout audit (and, for ANN stores, the SQ8 drift audit — read from
    the O(metadata) manifest counters) as JSON lines a cron wrapper can
    alert on. Store kind is detected from the on-disk tables — an ANN
    index has ``coarse/``, a dedup store ``profiles/``."""
    import json

    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="rds-pgbadger-etl-spark", cpus=args.cpus)
    d = args.index_stats
    if os.path.isdir(os.path.join(d, "coarse")):
        from rds_pgbadger_etl_spark.operators.ann_index import (
            ann_index_stats,
        )

        df = ann_index_stats(spark, d)
    elif os.path.isdir(os.path.join(d, "profiles")):
        from rds_pgbadger_etl_spark.operators.dedup_index import (
            dedup_index_stats,
        )

        df = dedup_index_stats(spark, d)
    else:
        raise SystemExit(
            f"{d!r} holds neither an ANN index (coarse/) "
            "nor a dedup store (profiles/)"
        )
    for row in df.collect():
        print(json.dumps(row.asDict(), default=str))


def _parse_and_write(spark, log_dir: str, names: list[str], events_dir: str):
    """Parse the ``names`` files of ``log_dir`` and write their events
    hour-partitioned under ``events_dir``; returns the parse plan's
    schema and the write's parse-quality counters."""
    from rds_pgbadger_etl_spark.operators.logparse import (
        parse_logs,
        release_parse_caches,
    )
    from rds_pgbadger_etl_spark.sinks.report_sink import write_events_partitioned

    events = parse_logs(spark, [os.path.join(log_dir, n) for n in names])
    quality = write_events_partitioned(events, events_dir)
    # targeted: clearCache() would also evict the shared staging tables
    # other queries in this session still hold handles to (plans/_shared)
    release_parse_caches()
    return events.schema, quality


def _list_names(log_dir: str) -> list[str]:
    return [
        f for f in os.listdir(log_dir)
        if os.path.isfile(os.path.join(log_dir, f))
    ]


def run_pipeline(
    spark,
    log_dir: str,
    out_dir: str,
    reference_dt: datetime,
    max_records: int = 5,
    html_path: str | None = None,
) -> dict:
    """Select → parse → report → sink; returns row counts per stage,
    under ``report_rows`` the row count of each report section, and
    under ``codegen_compiles`` the generated classes the process
    compiled during the call."""
    from rds_pgbadger_etl_spark.plans.reports import full_report
    from rds_pgbadger_etl_spark.session import codegen_compiles
    from rds_pgbadger_etl_spark.sinks.report_sink import (
        read_events_hours,
        render_html,
        write_report,
    )
    from rds_pgbadger_etl_spark.sources.logcatalog import select_names

    compiles = codegen_compiles(spark)
    selected = select_names(_list_names(log_dir), reference_dt, max_records)
    if not selected:
        raise SystemExit(f"no closed-hour log files in {log_dir} before {reference_dt}")

    events_dir = os.path.join(out_dir, "events")
    schema, quality = _parse_and_write(spark, log_dir, selected, events_dir)

    # Report from the just-written parquet, NOT the parse plan: the
    # report's one action would otherwise re-parse the logs inside each
    # of its 11 section branches. Re-reading also gives every section
    # column pruning at the scan.
    # Read only THIS run's (log_date, log_hour) partitions: with dynamic
    # partition overwrite, hours written by earlier runs into the same
    # out_dir survive the write and must not leak into this run's report
    # (the reference reports exactly the files it processed,
    # rds_pgbadger.py:44-45).
    stored = read_events_hours(
        spark, events_dir, [_parse_hour(n) for n in selected], schema
    )
    tables = write_report(full_report(stored), os.path.join(out_dir, "report"))
    if html_path:
        render_html(tables, html_path)

    # counts come from the write-side Observation — no extra scan action
    return {
        "files": len(selected),
        **quality,
        "report_rows": {n: t.num_rows for n, t in tables.items()},
        "codegen_compiles": codegen_compiles(spark) - compiles,
    }


def _hours_predicate(file_names: list[str]):
    """Partition predicate for the (log_date, log_hour) hours named by
    ``file_names`` (…YYYY-MM-DD-HH): an OR of literal equalities, which
    the parquet scan turns into partition pruning.

    The hour is the catalog's (``logcatalog.hour_partition``): a
    selected name that does not end exactly in YYYY-MM-DD-HH (say a
    compressed ``…-2024-01-02-07.gz``) fails loudly here rather than
    silently building a wrong predicate that drops that hour from the
    run's report."""
    from functools import reduce

    from pyspark.sql import functions as F

    hours = sorted({_parse_hour(n) for n in file_names})
    return reduce(
        lambda acc, dh: acc
        | ((F.col("log_date") == dh[0]) & (F.col("log_hour") == dh[1])),
        hours,
        F.lit(False),
    )


def _write_hourly_reports(
    spark, out_dir: str, file_names: list[str], schema
) -> dict[str, int]:
    """One report per newly processed hour — the reference's per-file
    artifact semantics (one pgBadger HTML per input log,
    rds_pgbadger.py:44-45,124-129) in the cron mode. Each hour's
    sections read ONLY that hour's directory of the stored events
    (``schema`` is the parse plan's) in one Spark action, and land under
    report/log_date=…/log_hour=…/<section>, so a re-processed hour
    replaces exactly its own report. The per-hour loop is cron-scale by
    construction: the reference caps files per run (max_records,
    rds_pgbadger.py:80); a backfill uses run_pipeline's corpus-level
    report instead. Returns each section's row count, summed over the
    hours.
    """
    from rds_pgbadger_etl_spark.plans.reports import full_report
    from rds_pgbadger_etl_spark.sinks.report_sink import (
        read_events_hours,
        write_report,
    )

    events_dir = os.path.join(out_dir, "events")
    rows: dict[str, int] = {}
    for name in file_names:
        d, h = _parse_hour(name)
        tables = write_report(
            full_report(read_events_hours(spark, events_dir, [(d, h)], schema)),
            os.path.join(out_dir, "report", f"log_date={d}", f"log_hour={h}"),
        )
        for n, t in tables.items():
            rows[n] = rows.get(n, 0) + t.num_rows
    return rows


def run_incremental(
    spark,
    log_dir: str,
    out_dir: str,
    reference_dt: datetime,
) -> dict:
    """The reference's cron mode (Dockerfile:15: run hourly, process
    what's new, skip what's done) for a staged local/object-store dir.

    Idempotency is an explicit manifest of processed file names — the
    inspectable equivalent of Luigi's target-existence memoization
    (rds_pgbadger.py:25-26,44-45,70-71). A still-open reference-hour
    file is *not* added to the manifest, so the next run picks it up
    once its hour closes — the retry semantics a streaming file-source
    checkpoint cannot express (a source-tracked file is never
    re-offered). Events append hour-partitioned with dynamic partition
    overwrite, so a re-processed hour replaces exactly itself.

    Returns files processed and skipped; when files were processed, also
    the write's parse-quality counters, ``report_rows`` (each section's
    row count, summed over the processed hours) and ``codegen_compiles``
    (generated classes the process compiled during the call: 0 when a
    warm process repeats a tick of a plan shape it has run before).
    """
    from rds_pgbadger_etl_spark.session import codegen_compiles
    from rds_pgbadger_etl_spark.sources.logcatalog import select_names

    compiles = codegen_compiles(spark)
    os.makedirs(out_dir, exist_ok=True)
    manifest = os.path.join(out_dir, "_processed_files.txt")
    done: set[str] = set()
    if os.path.exists(manifest):
        with open(manifest) as f:
            done = set(f.read().split())

    closed = select_names(_list_names(log_dir), reference_dt, max_records=None)
    todo = [n for n in closed if n not in done]
    quality: dict = {}
    if todo:
        schema, quality = _parse_and_write(
            spark, log_dir, todo, os.path.join(out_dir, "events")
        )
        quality["report_rows"] = _write_hourly_reports(
            spark, out_dir, todo, schema
        )
        # atomic manifest update (temp + rename), mirroring O13
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(sorted(done | set(todo))) + "\n")
        os.replace(tmp, manifest)
        quality["codegen_compiles"] = codegen_compiles(spark) - compiles
    return {"files": len(todo), "skipped": len(closed) - len(todo), **quality}


def run_query(args) -> None:
    """Direct access to the analytics registry: every query a reference
    user gets from the report, plus the full extension surface, runnable
    by name from the shell."""
    import json

    import __spark_entry__ as entry_mod

    from rds_pgbadger_etl_spark.session import get_spark

    registry = entry_mod.queries()
    if args.list_queries:
        for name in sorted(registry):
            print(name)
        return
    if args.query not in registry:
        raise SystemExit(
            f"unknown query {args.query!r}; see --list-queries"
        )
    if not args.sf_dir:
        raise SystemExit("--sf-dir is required with --query (or env var)")
    spark = get_spark(app_name=f"query:{args.query}", cpus=args.cpus)
    df = registry[args.query](spark, args.sf_dir)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.list_queries or args.query:
        run_query(args)
        return
    if args.compact:
        run_compact(args)
        return
    if args.maintain_index:
        run_maintain_index(args)
        return
    if args.maintain_dedup:
        run_maintain_dedup(args)
        return
    if args.index_stats:
        run_index_stats(args)
        return
    if not args.log_dir or not args.out_dir:
        raise SystemExit("--log-dir and --out-dir are required (or env vars)")

    import json

    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="rds-pgbadger-etl-spark", cpus=args.cpus)
    if args.incremental:
        stats = run_incremental(
            spark,
            args.log_dir,
            args.out_dir,
            _parse_reference(args.reference_datetime),
        )
        print(f"processed {stats['files']} new files ({stats['skipped']} already done)")
        if "report_rows" in stats:
            print(f"report rows: {json.dumps(stats['report_rows'])}")
            print(f"codegen compiles: {stats['codegen_compiles']}")
        return
    stats = run_pipeline(
        spark,
        args.log_dir,
        args.out_dir,
        _parse_reference(args.reference_datetime),
        args.max_records,
        args.html,
    )
    print(f"processed {stats['files']} files -> {stats['events']} events")


if __name__ == "__main__":
    main()
