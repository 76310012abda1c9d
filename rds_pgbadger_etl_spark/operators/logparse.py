"""PostgreSQL stderr-log parsing: tokenize, reassemble, enrich.

:func:`parse_logs` is the entry point. It reassembles with one of two
plans, chosen from the sizes of the files it reads
(:func:`choose_parse_strategy`, no Spark job): the windowed plan
(:func:`parse_logs_windowed`, all-JVM, one bounded shuffle) while every
file fits a couple of scan splits, as an hourly cron file does; the
splitwise plan (:func:`parse_logs_splitwise`, shuffle-free,
split-parallel) past that. Both give the same rows.

Implements SURVEY.md §2.2 P1 (prefix tokenization), P2 (multi-line
statement reassembly — the one order-sensitive step in the engine) and
P3/P4 enrichment, natively in Spark. The line format is pinned by the
reference's pgBadger flags (rds_pgbadger.py:56-59):

    log_line_prefix = '%t:%r:%u@%d:[%p]:'
    ==> 2019-04-01 10:23:45 UTC:10.0.0.12(50314):app@proddb:[4242]:LOG:  ...

Continuation lines (the tail of a multi-line statement) carry no prefix;
they belong to the preceding prefixed line of the same file.

Scale design:
- line_no is derived per file by ordering on
  ``(_metadata.file_block_start, monotonically_increasing_id)``. The
  block start pins each file split's true byte offset, so line numbers
  are correct even when Spark's bin-packing assigns a later split of a
  1 GB log to an earlier partition index (split-to-partition order is an
  implementation detail, not a contract); within a split, rows scan in
  offset order so the monotonic id breaks ties correctly. A line that
  straddles a split boundary is read by the earlier split's reader
  (Hadoop line-reader semantics), so it carries the earlier block start.
  (The reference gets intra-file parallelism from pgbadger ``--jobs 8``,
  rds_pgbadger.py:54-55; Spark gets it from splits.)
- The windowed plan shuffles once on ``source_file`` (hour-granular
  files → naturally bounded partitions); the splitwise plan moves only
  split-boundary fragments. Everything downstream is order-free.
- All parsing is regexp built-ins inside codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.functions.normalize import (
    extract_duration_ms,
    extract_phase,
    extract_statement,
    normalize_query,
)
from rds_pgbadger_etl_spark.session import max_partition_bytes

# %t:%r:%u@%d:[%p]:LEVEL: payload   (groups: ts, tz, host, port, user, db,
# pid, level, payload). %r may be empty or [local]; port optional.
PREFIX_RE = (
    r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})(?: ([A-Z]{2,5}))?"  # %t (+tz)
    r":([^:(]*)(?:\((\d+)\))?"  # %r host(port)
    r":([^@:]*)@([^:]*)"  # %u@%d
    r":\[(\d+)\]"  # [%p]
    r":([A-Z]+):\s?(.*)$"  # LEVEL: payload
)

LEVELS = [
    "LOG",
    "ERROR",
    "FATAL",
    "PANIC",
    "WARNING",
    "NOTICE",
    "INFO",
    "DEBUG",
    "STATEMENT",
    "DETAIL",
    "HINT",
    "CONTEXT",
]


# Persisted intermediates registered by parse_logs_splitwise, released
# with release_parse_caches() — targeted, unlike spark.catalog.clearCache()
# which would also evict unrelated shared staging tables (plans/_shared).
_PARSE_CACHES: list[DataFrame] = []


def release_parse_caches() -> None:
    """Unpersist the splitwise segment/fragment caches registered by
    :func:`parse_logs_splitwise`. Call after the parse result has been
    materialized (e.g. written to parquet); safe to call when empty."""
    while _PARSE_CACHES:
        _PARSE_CACHES.pop().unpersist()


# The windowed plan sorts each file inside ONE task; past a couple of
# splits per file that task is a straggler and the splitwise plan's
# per-split parallelism wins (BENCH_NOTES.md: 20x less shuffle, memory
# bounded by split not file). Below the bound the windowed plan is the
# cheaper one at cron size: with every parse forced through splitwise,
# perfbench pgbadger_cron (0.43 MB hour files, 4 vCPUs, all runs
# correct) rose from 10.26/11.23/10.34 to 17.52/17.58/17.33 CPU-s per
# tick (op_cpu_s, seeds 901-903, +69 % median), from 14.17/14.13/14.00
# to 19.92/17.74/20.37 CPU-s per backfill (bulk_cpu_s, +41 %), and
# tick_p50_s from 3.50/3.63/3.37 to 5.36/5.54/5.55 s; a re-run at seed
# 904 read 16.14 -> 21.85 (op_cpu_s, +35 %), 20.71 -> 27.76
# (bulk_cpu_s, +34 %) and 5.47 -> 6.88 s. So both plans stay.
SPLITWISE_SIZE_FACTOR = 2


def choose_parse_strategy(spark: SparkSession, paths: list[str]) -> str:
    """Pick the reassembly plan from the sizes of the files in ``paths``
    (``os.stat``, no Spark job): ``windowed`` (one bounded shuffle,
    all-JVM) while every file fits a couple of scan splits,
    ``splitwise`` once any file exceeds
    ``SPLITWISE_SIZE_FACTOR x spark.sql.files.maxPartitionBytes`` — at
    that point the windowed plan's one-sort-task-per-file becomes the
    straggler a 5 GB busy-hour log would hit."""
    import os

    max_bytes = max((os.path.getsize(p) for p in paths), default=0)
    threshold = SPLITWISE_SIZE_FACTOR * max_partition_bytes(spark)
    return "splitwise" if max_bytes > threshold else "windowed"


def _scan_files(path: str | list[str]) -> list[str]:
    """The files a scan of ``path`` reads, by the forms
    :func:`_read_raw_lines` accepts: a list of files, one file, a
    directory (its files at any depth but those whose names start with
    ``_`` or ``.``, which Spark skips), or a directory with a trailing
    glob on the file names."""
    import fnmatch
    import os

    if not isinstance(path, str):
        return list(path)
    pattern = "*"
    if any(ch in os.path.basename(path) for ch in "*?["):
        path, pattern = os.path.split(path)
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in fnmatch.filter(files, pattern)
        if not f.startswith(("_", "."))
    ]


def _read_raw_lines(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Raw log text as ``(source_file, block_start, mid, value)``, the
    input of both reassembly plans.

    The catalog-scan + pruning the reference does against the RDS API
    (rds_pgbadger.py:86-93) is Spark's file listing here: pass a file, a
    directory, a glob (``…/logs/*.log``), or an explicit list of selected
    paths (the O7 top-K output). A trailing glob is translated to
    ``pathGlobFilter`` (this Spark build rejects inline globs on the
    local filesystem).
    """
    import os

    reader = spark.read
    if isinstance(path, str):
        base = os.path.basename(path)
        if any(ch in base for ch in "*?["):
            reader = reader.option("pathGlobFilter", base)
            path = os.path.dirname(path)
    return reader.text(path).select(
        F.input_file_name().alias("source_file"),
        F.col("_metadata.file_block_start").alias("block_start"),
        F.monotonically_increasing_id().alias("mid"),
        F.col("value"),
    )


def _null_if_empty(c: Column) -> Column:
    return F.when(c == "", None).otherwise(c)


def tokenize(lines: DataFrame) -> DataFrame:
    """P1: split each line into prefix fields; non-matching lines keep
    nulls (continuation or malformed). Line-level only: the reassembly
    plans extract the prefix once per event instead (:func:`_group`)."""
    v = F.col("value")
    ext = [F.regexp_extract(v, PREFIX_RE, i) for i in range(1, 10)]
    return lines.select(
        "source_file",
        "line_no",
        "value",
        # try_: a corrupt-but-prefix-shaped timestamp ("2019-04-01 33:00:00")
        # must yield NULL, not an ANSI CANNOT_PARSE_TIMESTAMP that kills the
        # whole job — route, don't drop (same policy as MALFORMED lines)
        F.try_to_timestamp(
            _null_if_empty(ext[0]), F.lit("yyyy-MM-dd HH:mm:ss")
        ).alias("event_ts"),
        _null_if_empty(ext[2]).alias("remote_host"),
        _null_if_empty(ext[3]).cast("int").alias("remote_port"),
        _null_if_empty(ext[4]).alias("log_user"),
        _null_if_empty(ext[5]).alias("database"),
        _null_if_empty(ext[6]).cast("int").alias("pid"),
        _null_if_empty(ext[7]).alias("level"),
        F.when(_null_if_empty(ext[7]).isNull(), None).otherwise(ext[8]).alias("payload"),
        (ext[0] != "").alias("is_header"),
    )


# Delimiter for the single-pass group extraction in the fused path.
# Groups 1-8 of PREFIX_RE (timestamp, tz, host, port, user, db, pid,
# level) essentially cannot contain \x01; the one free-text group
# (payload, $9) is re-joined losslessly after the split, and any header
# that DOES contain \x01 falls back to per-group regexp_extract.
_DELIM = "\x01"
_REPL = _DELIM.join(f"${i}" for i in range(1, 10))


def _group(i: int) -> Column:
    """Prefix group ``i`` of the header line, from the materialized
    ``parts`` column when the single-pass split applies, else a
    per-group ``regexp_extract`` fallback ('' when not a header, the
    same as ``regexp_extract`` on a non-matching line)."""
    parts, hdr = F.col("parts"), F.col("hdr")
    if i < 9:
        fast = parts[i - 1]
    else:
        # payload tail: re-join so a payload containing \x01 round-trips
        fast = F.array_join(
            F.slice(parts, 9, F.greatest(F.size(parts) - 8, F.lit(1))), _DELIM
        )
    slow = F.when(F.col("is_hdr"), F.regexp_extract(hdr, PREFIX_RE, i)).otherwise(
        F.lit("")
    )
    return F.when(parts.isNotNull(), fast).otherwise(slow)


def _reassemble_fused(raw: DataFrame) -> DataFrame:
    """P1+P2 of the windowed plan in one narrow pass:

    - line_no / boundary / event_seq are computed over the NARROW raw
      rows with both window passes sharing one sort on
      ``(source_file, block_start, mid)``.
    - The aggregate is a single ``collect_list(struct(line_no, value))``;
      first-line fields are taken from element 0 of the sorted array.
    - Prefix extraction runs once per EVENT on the header line (via
      :func:`_group` over a materialized single-pass split) instead of
      nine ``regexp_extract`` per LINE.

    Numbers on the 3.28 GB / 24-hour-file rehearsal corpus are in
    BENCH_NOTES.md ("fused parse"). Non-indented lines that match no
    prefix are malformed: each consecutive run is quarantined as one
    MALFORMED event (SURVEY.md P1: route, don't drop).
    """
    v = F.col("value")
    w0 = Window.partitionBy("source_file").orderBy("block_start", "mid")
    wrun = w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    flagged = raw.withColumn("is_header", v.rlike(PREFIX_RE)).withColumn(
        "garbage", ~F.col("is_header") & ~v.rlike(r"^[\t ]")
    )
    numbered = (
        flagged.select(
            "source_file",
            "block_start",
            "mid",
            "value",
            F.row_number().over(w0).alias("line_no"),
            (
                F.col("is_header")
                | (F.col("garbage") & ~F.lag("garbage", 1, False).over(w0))
            ).alias("boundary"),
        )
        # same window spec as w0 -> reuses the sort, no second exchange
        .withColumn("event_seq", F.sum(F.col("boundary").cast("int")).over(wrun))
        .drop("block_start", "mid", "boundary")
    )

    grouped = numbered.groupBy("source_file", "event_seq").agg(
        F.array_sort(F.collect_list(F.struct("line_no", "value"))).alias("lines")
    )

    first = F.col("lines")[0]
    pre = grouped.select(
        "source_file",
        "event_seq",
        first["line_no"].alias("line_no"),
        F.size("lines").cast("long").alias("n_lines"),
        first["value"].alias("hdr"),
        F.when(
            F.size("lines") > 1,
            F.concat_ws(
                "\n",
                F.transform(
                    F.slice(F.col("lines"), 2, F.size("lines") - 1),
                    lambda s: s["value"],
                ),
            ),
        ).alias("tail"),
    )
    return _finalize_events(pre)


def _finalize_events(pre: DataFrame) -> DataFrame:
    """Shared P1 field extraction over pre-assembled events
    ``(source_file, event_seq, line_no, n_lines, hdr, tail)`` — ``hdr``
    is the raw first line, ``tail`` the '\\n'-joined continuation lines
    (NULL when the event is a single line).

    The two intermediate projections are kept as SEPARATE plan nodes on
    purpose: ``hdr``/``parts`` are non-cheap expressions referenced many
    times downstream, and Catalyst's CollapseProject leaves a projection
    boundary in place exactly when a non-trivial alias is multiply
    referenced — so the regex split runs ONCE per event. (Folding
    everything into one projection re-evaluates the whole extraction
    tree per output column: measured 9x slower.)
    """
    hdr = F.col("hdr")
    with_parts = pre.withColumn("is_hdr", hdr.rlike(PREFIX_RE)).withColumn(
        "parts",
        F.when(
            F.col("is_hdr") & ~hdr.contains(_DELIM),
            F.split(F.regexp_replace(hdr, PREFIX_RE, _REPL), _DELIM),
        ),
    )

    level = _null_if_empty(_group(8))
    payload = F.when(level.isNull(), None).otherwise(_group(9))
    head_txt = F.when(F.col("is_hdr"), payload).otherwise(hdr)
    return with_parts.select(
        "source_file",
        "event_seq",
        F.try_to_timestamp(
            _null_if_empty(_group(1)), F.lit("yyyy-MM-dd HH:mm:ss")
        ).alias("event_ts"),
        _null_if_empty(_group(3)).alias("remote_host"),
        _null_if_empty(_group(4)).cast("int").alias("remote_port"),
        _null_if_empty(_group(5)).alias("log_user"),
        _null_if_empty(_group(6)).alias("database"),
        _null_if_empty(_group(7)).cast("int").alias("pid"),
        F.coalesce(level, F.lit("MALFORMED")).alias("level"),
        "line_no",
        "n_lines",
        F.concat_ws("\n", head_txt, F.col("tail")).alias("message"),
    )


# --------------------------------------------------------------------------
# Split-parallel, shuffle-free reassembly (the 100 TB path).
#
# The windowed plan above shuffles every raw line once on source_file
# (0.39x the input in shuffle bytes — ~39 TB of shuffle at 100 TB) and
# sort each file's lines inside one task. But a file SPLIT's lines
# already arrive in offset order from the scan, and every multi-line
# event is local to its split except the handful that straddle a split
# boundary. So: segment each split independently inside `mapInArrow`
# (all regex work stays JVM-side — the Python function only sees
# precomputed is_header/garbage flags and raw values), emit the split's
# complete events plus its first/last partial segments as tiny
# "fragments", stitch the fragments with the windowed reassembly over
# ~2 rows per split, and recover the global line_no / event_seq
# numbering from per-split scalar offsets (prefix sums over a
# metadata-sized table, broadcast back). No full-data shuffle, no sort,
# no window buffering; Python memory is bounded by one split
# (maxPartitionBytes), not one file.

_SEGMENT_SCHEMA = (
    "kind string, source_file string, block_start long, local_line long, "
    "ordinal long, n_lines long, hdr string, tail string, "
    "is_header boolean, garbage boolean, forced boolean, inner_events long"
)


def _flush_split(key: tuple, vals: list, hdrs: list, garbs: list) -> dict:
    """Segment one split's lines (already in offset order) into columns
    of the _SEGMENT_SCHEMA union stream: complete inner events
    (kind='e'), head-fragment lines before the first header (kind='h'),
    the open tail segment's lines (kind='t'), and one stats row
    (kind='s'). Pure Python over precomputed flags — no regex here."""
    src, block = key
    n = len(vals)
    out = {f: [] for f in (
        "kind", "source_file", "block_start", "local_line", "ordinal",
        "n_lines", "hdr", "tail", "is_header", "garbage", "forced",
        "inner_events",
    )}

    def emit(kind, local_line, ordinal=None, n_lines=None, hdr=None,
             tail=None, is_header=None, garbage=None, forced=None,
             inner_events=None):
        out["kind"].append(kind)
        out["source_file"].append(src)
        out["block_start"].append(block)
        out["local_line"].append(local_line)
        out["ordinal"].append(ordinal)
        out["n_lines"].append(n_lines)
        out["hdr"].append(hdr)
        out["tail"].append(tail)
        out["is_header"].append(is_header)
        out["garbage"].append(garbage)
        out["forced"].append(forced)
        out["inner_events"].append(inner_events)

    i0 = next((i for i in range(n) if hdrs[i]), None)
    if i0 is None:
        # no header in the whole split: segmentation is undecidable
        # locally — everything is one head fragment
        for i in range(n):
            emit("h", i, hdr=vals[i], is_header=False, garbage=garbs[i],
                 forced=False)
        emit("s", 0, n_lines=n, inner_events=0)
        return out

    for i in range(i0):
        emit("h", i, hdr=vals[i], is_header=False, garbage=garbs[i],
             forced=False)

    # segment [i0, n): a boundary is a header, or a garbage line whose
    # predecessor (known locally for i > i0) is not garbage
    seg_starts = [i0]
    for i in range(i0 + 1, n):
        if hdrs[i] or (garbs[i] and not garbs[i - 1]):
            seg_starts.append(i)
    # all segments but the last are complete inner events; the last is
    # open (its continuation may extend into the next split)
    for j in range(len(seg_starts) - 1):
        s, e = seg_starts[j], seg_starts[j + 1]
        emit(
            "e", s, ordinal=j, n_lines=e - s, hdr=vals[s],
            tail="\n".join(vals[s + 1 : e]) if e - s > 1 else None,
        )
    t = seg_starts[-1]
    for i in range(t, n):
        emit("t", i, hdr=vals[i], is_header=hdrs[i], garbage=garbs[i],
             forced=(i == t))
    emit("s", 0, n_lines=n, inner_events=len(seg_starts) - 1)
    return out


def _segment_batches(batches):
    """mapInArrow generator: stream (source_file, block_start, value,
    is_header, garbage) batches, group by (source_file, block_start)
    — split groups are contiguous within a scan partition — and flush
    each split through :func:`_flush_split`."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("kind", pa.string()),
            ("source_file", pa.string()),
            ("block_start", pa.int64()),
            ("local_line", pa.int64()),
            ("ordinal", pa.int64()),
            ("n_lines", pa.int64()),
            ("hdr", pa.string()),
            ("tail", pa.string()),
            ("is_header", pa.bool_()),
            ("garbage", pa.bool_()),
            ("forced", pa.bool_()),
            ("inner_events", pa.int64()),
        ]
    )
    key, vals, hdrs, garbs = None, [], [], []
    for batch in batches:
        src = batch.column("source_file").to_pylist()
        blk = batch.column("block_start").to_pylist()
        val = batch.column("value").to_pylist()
        ish = batch.column("is_header").to_pylist()
        gar = batch.column("garbage").to_pylist()
        for i in range(batch.num_rows):
            k = (src[i], blk[i])
            if k != key:
                if key is not None:
                    yield pa.RecordBatch.from_pydict(
                        _flush_split(key, vals, hdrs, garbs), schema=schema
                    )
                key, vals, hdrs, garbs = k, [], [], []
            vals.append(val[i])
            hdrs.append(ish[i])
            garbs.append(gar[i])
    if key is not None:
        yield pa.RecordBatch.from_pydict(
            _flush_split(key, vals, hdrs, garbs), schema=schema
        )


def parse_logs_splitwise(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """P1->P4 with split-parallel reassembly — same output as
    :func:`parse_logs_windowed` (pinned by ``test_logparse.py``'s
    truth and parity tests), but the raw
    lines are never shuffled, sorted, or window-buffered: each file
    split segments independently, only boundary fragments (a few rows
    per split) and per-split scalars move between tasks.

    The segment stream is persisted for the duration of the returned
    plan (its three small consumers share one scan+segmentation pass);
    callers running many parses in one session reclaim the cache with
    :func:`release_parse_caches` after materializing the result —
    targeted, so unrelated persisted DataFrames survive.
    """
    v = F.col("value")
    flagged = _read_raw_lines(spark, path).select(
        "source_file",
        "block_start",
        v.alias("value"),
        v.rlike(PREFIX_RE).alias("is_header"),
    ).withColumn("garbage", ~F.col("is_header") & ~v.rlike(r"^[\t ]"))

    seg = flagged.mapInArrow(_segment_batches, _SEGMENT_SCHEMA)
    # One pass feeds three small consumers; persist so the scan +
    # segmentation run once. At 100 TB this is the natural place to
    # land the segment stream on disk instead.
    seg.persist()
    _PARSE_CACHES.append(seg)

    # --- stitch the boundary fragments (tiny: ~2 rows per split) -----
    frag_w = Window.partitionBy("source_file").orderBy("block_start", "local_line")
    frag_run = frag_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frags = (
        seg.filter(F.col("kind").isin("h", "t"))
        .withColumn(
            "boundary",
            F.col("forced")
            | F.col("is_header")
            | (F.col("garbage") & ~F.lag("garbage", 1, False).over(frag_w)),
        )
        .withColumn("seg_id", F.sum(F.col("boundary").cast("int")).over(frag_run))
    )
    pos = F.struct("block_start", "local_line")
    line = F.struct(
        F.col("block_start"), F.col("local_line"), F.col("hdr").alias("value")
    )
    stitched = (
        frags.groupBy("source_file", "seg_id")
        .agg(
            F.min(pos).alias("first"),
            F.min_by("forced", pos).alias("from_tail"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.array_sort(F.collect_list(line)).alias("lines"),
        )
        .select(
            "source_file",
            # seg_id 0 = lines before the file's first boundary (a file
            # starting with continuation lines): the windowed plan
            # numbers that group event_seq=0, all boundary events 1..B
            (F.col("seg_id") == 0).alias("is_junk"),
            F.col("first")["block_start"].alias("block_start"),
            F.col("first")["local_line"].alias("local_line"),
            "from_tail",
            "n_lines",
            F.col("lines")[0]["value"].alias("hdr"),
            F.when(
                F.col("n_lines") > 1,
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.slice(F.col("lines"), 2, F.size("lines") - 1),
                        lambda s: s["value"],
                    ),
                ),
            ).alias("tail"),
        )
    )
    stitched.persist()
    _PARSE_CACHES.append(stitched)

    # --- per-split scalars --------------------------------------------
    stats = seg.filter(F.col("kind") == "s").select(
        "source_file", "block_start", "n_lines", "inner_events"
    )
    head_events = (
        stitched.filter(~F.col("from_tail") & ~F.col("is_junk"))
        .groupBy("source_file", "block_start")
        .agg(F.count(F.lit(1)).cast("long").alias("head_events"))
    )
    tail_events = (
        stitched.filter(F.col("from_tail"))
        .groupBy("source_file", "block_start")
        .agg(F.count(F.lit(1)).cast("long").alias("tail_events"))
    )
    split_w = Window.partitionBy("source_file").orderBy("block_start")
    prev = split_w.rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        stats.join(head_events, ["source_file", "block_start"], "left")
        .join(tail_events, ["source_file", "block_start"], "left")
        .na.fill({"head_events": 0, "tail_events": 0})
        .withColumn(
            "split_events",
            F.col("inner_events") + F.col("head_events") + F.col("tail_events"),
        )
        .select(
            "source_file",
            "block_start",
            "head_events",
            F.coalesce(F.sum("n_lines").over(prev), F.lit(0)).alias("line_off"),
            F.coalesce(F.sum("split_events").over(prev), F.lit(0)).alias(
                "event_off"
            ),
            (F.col("inner_events") + F.col("head_events")).alias("pre_tail"),
        )
    )

    # --- number the events -------------------------------------------
    inner = seg.filter(F.col("kind") == "e").select(
        "source_file", "block_start", "local_line", "ordinal", "n_lines",
        "hdr", "tail",
    )
    inner_numbered = inner.join(
        F.broadcast(offsets), ["source_file", "block_start"]
    ).select(
        "source_file",
        (F.col("event_off") + F.col("head_events") + F.col("ordinal") + 1).alias(
            "event_seq"
        ),
        (F.col("line_off") + F.col("local_line") + 1).cast("int").alias("line_no"),
        "n_lines",
        "hdr",
        "tail",
    )
    stitch_rank = Window.partitionBy("source_file", "block_start").orderBy(
        "local_line"
    )
    stitched_numbered = (
        stitched.filter(~F.col("is_junk"))
        .withColumn("rank0", F.row_number().over(stitch_rank) - F.lit(1))
        .join(F.broadcast(offsets), ["source_file", "block_start"])
        .select(
            "source_file",
            (
                F.col("event_off")
                + F.when(F.col("from_tail"), F.col("pre_tail")).otherwise(
                    F.col("rank0")
                )
                + 1
            ).alias("event_seq"),
            (F.col("line_off") + F.col("local_line") + 1)
            .cast("int")
            .alias("line_no"),
            "n_lines",
            "hdr",
            "tail",
        )
    )
    junk = stitched.filter(F.col("is_junk")).select(
        "source_file",
        F.lit(0).cast("long").alias("event_seq"),
        F.lit(1).alias("line_no"),  # junk group starts at the file's line 1
        "n_lines",
        "hdr",
        "tail",
    )

    events = _finalize_events(
        inner_numbered.unionByName(stitched_numbered).unionByName(junk)
    )
    return enrich(events)


def enrich(events: DataFrame) -> DataFrame:
    """P3/P4: duration, statement text and its normalized form."""
    stmt = F.when(
        F.col("level") == "STATEMENT", F.col("message")
    ).otherwise(extract_statement("message"))
    return (
        events.withColumn("duration_ms", extract_duration_ms("message"))
        .withColumn("phase", extract_phase("message"))
        .withColumn("query", stmt)
        .withColumn(
            "normalized_query",
            F.when(F.col("query").isNotNull(), normalize_query("query")),
        )
    )


def parse_logs_windowed(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """P1->P4 with the windowed reassembly (:func:`_reassemble_fused`):
    all-JVM, one shuffle on ``source_file``, one sort task per file."""
    return enrich(_reassemble_fused(_read_raw_lines(spark, path)))


def parse_logs(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Full P1→P2→P3/P4 pipeline: raw text path → parsed event table.

    ``path`` takes every form :func:`_read_raw_lines` does. The
    reassembly plan is chosen from the sizes of the files the scan will
    read (:func:`choose_parse_strategy`); after materializing a
    splitwise result, :func:`release_parse_caches` frees its caches.
    """
    if choose_parse_strategy(spark, _scan_files(path)) == "splitwise":
        return parse_logs_splitwise(spark, path)
    return parse_logs_windowed(spark, path)
