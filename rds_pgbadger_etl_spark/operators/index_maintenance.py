"""Shared maintenance surface for the persisted index artifacts.

Both on-disk artifacts — the ANN index (operators/ann_index.py) and the
dedup signature store (operators/dedup_index.py) — are sets of
partitioned parquet tables with the same operational lifecycle:
append-heavy writes land one file-set per partition per batch, deletes
are tombstones the readers anti-join, and a periodic compaction rewrites
each partition to one file-set, applies pending tombstones physically,
and clears them. This module is that lifecycle, written once:

- :func:`compact_index` — per-table rewrite into a NEW generation
  directory, published by an atomic manifest flip (see below).
- :func:`index_stats` — rows/partition skew and files/partition, the
  numbers that say WHEN to compact.
- :func:`write_tombstones` / :func:`tombstones` / :func:`live` — the
  logical-delete side table and the reader filter.
- :func:`table_path` — the ONE path-resolution point every reader and
  writer goes through.

Generation manifest (the O13 atomic swap, reader-safe edition):
each table's current directory is resolved through ``_MANIFEST.json``
(table name → directory name; a missing entry means the bare
``{index_dir}/{table}`` dir, which is generation 0). Compaction writes
the rewritten table to ``{table}__g{N+1}``, then publishes it by
rewriting the manifest via write-temp + ``os.rename`` — atomic on
POSIX, so a reader resolving paths at any instant sees either the old
generation or the new one, never a missing table. The superseded
generation is RETAINED until the next compaction (retention = 1), so a
reader that resolved just before the flip still scans a complete table.
A crash before the flip leaves the manifest — and therefore readers —
on the old generation; the half-written ``__g{N+1}`` dir is simply
overwritten by the next compaction. (An object-store deployment would
swap the rename for a conditional-put of the manifest object — same
contract.)

Tombstones and concurrent deletes: compaction snapshots the tombstone
FILES it read at start and, after every table is rewritten, deletes
exactly those files — tombstones appended mid-compaction survive and
keep filtering reads until the next compaction applies them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_MANIFEST.json"


def _read_manifest(index_dir: str) -> dict:
    path = os.path.join(index_dir, _MANIFEST)
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def _write_manifest(index_dir: str, mapping: dict) -> None:
    """Publish a new table→directory mapping atomically (POSIX rename)."""
    path = os.path.join(index_dir, _MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(mapping, fh)
    os.rename(tmp, path)


def write_meta(index_dir: str, key: str, value) -> None:
    """Store artifact-level metadata (e.g. a layout version) in the
    generation manifest under a reserved dunder key — published with
    the same atomic rename as a compaction flip. Dunder keys can never
    collide with table names, so ``table_path`` resolution is
    unaffected."""
    assert key.startswith("__"), key
    os.makedirs(index_dir, exist_ok=True)
    m = _read_manifest(index_dir)
    m[key] = value
    _write_manifest(index_dir, m)


def read_meta(index_dir: str, key: str, default=None):
    """Read artifact-level metadata stored by :func:`write_meta`."""
    return _read_manifest(index_dir).get(key, default)


def table_path(index_dir: str, table: str) -> str:
    """Current directory of an artifact table — manifest-resolved; a
    table the manifest doesn't mention lives at the bare path
    (generation 0). Every artifact reader and writer resolves through
    here so a compaction flip is visible to all of them at once."""
    return f"{index_dir}/{_read_manifest(index_dir).get(table, table)}"


def manifest_snapshot(index_dir: str) -> dict:
    """One coherent read of the generation manifest. A reader that
    needs BOTH a metadata key and a table path (e.g. the dedup store's
    prefix width plus its bands directory) must derive them from ONE
    snapshot: two separate reads can straddle a compaction that flips
    the table generation and a layout key together (the fanout
    upgrade), and the mismatched pair reads as a silently-empty scan."""
    return _read_manifest(index_dir)


def table_path_in(snapshot: dict, index_dir: str, table: str) -> str:
    """``table_path`` resolved against an already-taken snapshot."""
    return f"{index_dir}/{snapshot.get(table, table)}"


def table_fingerprint(index_dir: str, tables: tuple[str, ...]) -> tuple:
    """(table, directory, sorted data files) of each table, resolved
    under ONE manifest snapshot. Every write — a build, a retrain, a
    compaction — lands files under fresh names, so the fingerprint
    changes whenever a table's content does, whichever process wrote
    it; an append to another table leaves it alone."""
    snap = manifest_snapshot(index_dir)
    return tuple(
        (
            t,
            snap.get(t, t),
            tuple(sorted(data_files(table_path_in(snap, index_dir, t)))),
        )
        for t in tables
    )


# Two process-level caches, each a true LRU bounded by entry count,
# whose keys hold the files their values were derived from — so a table
# rewritten in this process or any other misses and reloads, and
# nothing needs an explicit invalidation:
#
# - metadata-sized artifact tables (the ANN quantizers: centroids,
#   codebooks, SQ8 grids, binary thresholds, fine shards), keyed on the
#   table's fingerprint (:func:`cached_table`);
# - plan metadata of the batch verbs (an ANN flag's probed cells, a
#   dedup lookup's pruning sets), keyed by the caller on the store files
#   and the batch plan (:func:`cached_meta`, :func:`batch_plan_files`).
TABLE_CACHE_ENTRIES = 64
META_CACHE_ENTRIES = 64
_TABLE_CACHE: OrderedDict[tuple, object] = OrderedDict()
_META_CACHE: OrderedDict[tuple, object] = OrderedDict()


def _lru(cache: OrderedDict, bound: int, key: tuple, load):
    if key in cache:
        cache.move_to_end(key)
        return cache[key]
    value = cache[key] = load()
    while len(cache) > bound:
        cache.popitem(last=False)
    return value


def cached_table(index_dir: str, table: str, load):
    """``load()`` of ``table``, cached under ``(index_dir, table, its
    data files)``. The files are listed BEFORE loading, so a rewrite
    racing the load can only leave a value newer than its key, which
    the next lookup replaces."""
    key = (os.path.normpath(index_dir), table_fingerprint(index_dir, (table,)))
    return _lru(_TABLE_CACHE, TABLE_CACHE_ENTRIES, key, load)


def cached_meta(index_dir: str, key: tuple, compute):
    """``compute()``, cached under ``(index_dir, *key)``; ``key`` must
    hold everything the value is a function of — the store files it was
    derived from and the batch (its ``semanticHash()`` plus
    :func:`batch_plan_files`)."""
    return _lru(
        _META_CACHE,
        META_CACHE_ENTRIES,
        (os.path.normpath(index_dir), *key),
        compute,
    )


def batch_plan_files(df: DataFrame) -> tuple:
    """A batch plan's leaf input files, the part of the batch identity
    ``semanticHash()`` does not cover (it hashes the LOGICAL plan, so a
    path re-read after its files were replaced would collide). A plan
    whose files cannot be listed gets a never-matching sentinel: caching
    is skipped rather than risked."""
    try:
        return tuple(sorted(df.inputFiles()))
    except Exception:
        return ("__unlistable__", object())


def clear_table_cache() -> None:
    """Drop every cached table and metadata entry: the next read
    behaves as in a fresh process."""
    _TABLE_CACHE.clear()
    _META_CACHE.clear()


def _gen_of(dirname: str, table: str) -> int:
    m = re.fullmatch(re.escape(table) + r"__g(\d+)", dirname)
    return int(m.group(1)) if m else 0


def _generation_dirs(index_dir: str, table: str) -> list[str]:
    """All on-disk generation dirs of a table (bare = gen 0)."""
    pat = re.compile(re.escape(table) + r"(__g\d+)?")
    return [
        os.path.join(index_dir, d)
        for d in os.listdir(index_dir)
        if pat.fullmatch(d) and os.path.isdir(os.path.join(index_dir, d))
    ]


def data_files(path: str) -> list[str]:
    """Relative paths of the parquet data files under a table dir."""
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.relpath(os.path.join(root, f), path)
            for f in files
            if f.endswith(".parquet")
        )
    return out


def write_tombstones(
    spark: SparkSession, keys, index_dir: str, key_col: str,
    key_type: str = "long",
) -> None:
    """Append deleted keys to the ``tombstones/`` side table — logical
    delete: nothing in the partitioned tables is rewritten. A DataFrame
    writes distributed; a Python iterable becomes one driver-sized file.

    ``key_type`` must match the artifact table's key dtype (each caller
    pins its own). A DataFrame whose keys don't survive the cast raises
    rather than silently tombstoning NULLs (which would delete nothing).
    """
    if isinstance(keys, DataFrame):
        both = keys.select(
            F.col(key_col).alias("_orig"),
            # try_cast: NULL on malformed input even under ANSI mode,
            # so the mismatch raises OUR error below, not a task failure
            F.col(key_col).try_cast(key_type).alias(key_col),
        )
        bad = both.where(
            F.col("_orig").isNotNull() & F.col(key_col).isNull()
        ).take(1)
        if bad:
            raise ValueError(
                f"tombstone keys do not cast cleanly to {key_type!r}: "
                f"example {bad[0]['_orig']!r}"
            )
        df = both.select(key_col)
    else:
        # schema-pinned createDataFrame raises loudly on mismatched types
        df = spark.createDataFrame(
            [(v,) for v in keys], f"{key_col} {key_type}"
        ).coalesce(1)
    df.write.mode("append").parquet(f"{index_dir}/tombstones")


def _tombstone_files(index_dir: str) -> list[str]:
    """Absolute paths of the tombstone parquet files present NOW — the
    snapshot unit compaction reads and later clears."""
    path = f"{index_dir}/tombstones"
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The distinct tombstoned keys, or None when none exist. (Local-FS
    existence probe; an object-store deployment would swap in the
    Hadoop FileSystem API — same contract.)"""
    files = _tombstone_files(index_dir)
    if not files:
        return None
    return spark.read.parquet(*files).distinct()


def live(
    spark: SparkSession, index_dir: str, df: DataFrame, key_col: str
) -> DataFrame:
    """Filter a scan of an artifact table to non-deleted rows — broadcast
    anti-join against the (metadata-sized-between-compactions)
    tombstones; a no-op plan when no tombstones exist."""
    tomb = tombstones(spark, index_dir)
    if tomb is None:
        return df
    return df.join(F.broadcast(tomb), key_col, "left_anti")


def _partition_cols(pc) -> tuple[str, ...]:
    """Normalize a table's partition spec — a single column name or a
    tuple of them (multi-level layouts like the two-level ANN index's
    (group, cell)) — to a tuple."""
    return (pc,) if isinstance(pc, str) else tuple(pc)


def _leaf_partition_count(src: str, pcs: tuple[str, ...]) -> int:
    """Exact partition-value count from the directory layout (no scan):
    walk one `col=value` directory level per partition column."""
    dirs = [src]
    for pc in pcs:
        dirs = [
            os.path.join(d, sub)
            for d in dirs
            for sub in os.listdir(d)
            if sub.startswith(f"{pc}=")
            and os.path.isdir(os.path.join(d, sub))
        ]
    return max(1, len(dirs))


def compact_index(
    spark: SparkSession,
    index_dir: str,
    tables: dict[str, str | tuple[str, ...]],
    compact_tables: tuple[str, ...] | None = None,
    tombstone_key: str | None = None,
    rows_per_task: dict[str, int] | None = None,
    transforms: dict | None = None,
    manifest_updates: dict | None = None,
    manifest_updates_after: str | None = None,
) -> dict:
    """Rewrite each partitioned table so every partition holds one
    file-set again; apply pending tombstones physically during the
    rewrite, and clear them once every table has been rewritten
    (partial-table compactions keep them — the anti-join is idempotent).

    Each table is rewritten into a fresh generation directory and
    published by the atomic manifest flip (module docstring); the
    superseded generation stays on disk until the NEXT compaction so
    in-flight readers never lose their table. Only the tombstone files
    snapshotted at entry are cleared — deletes racing the compaction
    survive. Returns per-table file counts before/after.

    ``rows_per_task`` (table → target rows per write task) sizes the
    rewrite exchange for tables with WIDE rows: without it a table much
    larger than ``shuffle.partitions × task memory`` spills in the
    write's sort (measured: a 3.1 GB profiles table spilled ~2 GB at
    the session-default task count). When the computed task count
    exceeds the table's partition-value count, rows are salted by
    ``tombstone_key`` within each partition — the compacted table then
    holds up to ceil(tasks/partitions) file-sets per partition instead
    of exactly one: the spill-safe bound, still O(1) per partition per
    compaction cycle.

    ``transforms`` (table → DataFrame fn) rewrites a table's ROWS
    during its compaction — layout migrations piggyback on the rewrite
    the compaction does anyway (e.g. widening the dedup store's prefix
    column). ``manifest_updates`` are extra manifest keys published IN
    THE SAME atomic manifest write as ``manifest_updates_after``'s
    generation flip, so a layout key and the table it describes can
    never be observed mismatched by a reader taking one
    :func:`manifest_snapshot`. (Appends racing a compaction were and
    remain out of contract — the maintenance pass assumes the writer
    quiesced, exactly like the module docstring's committer story.)"""
    import math

    todo = compact_tables or tuple(tables)
    tomb_files = _tombstone_files(index_dir) if tombstone_key else []
    tomb = (
        spark.read.parquet(*tomb_files).distinct() if tomb_files else None
    )
    stats = {}
    for t in todo:
        pcs = _partition_cols(tables[t])
        src = table_path(index_dir, t)
        new_dir = f"{index_dir}/{t}__g{_gen_of(os.path.basename(src), t) + 1}"
        before = len(data_files(src))
        table_df = spark.read.parquet(src)
        if transforms and t in transforms:
            table_df = transforms[t](table_df)
        # quantizer-metadata tables (e.g. the 2-level `fine/` shard map)
        # carry no corpus key — tombstones don't apply to them
        if tomb is not None and tombstone_key in table_df.columns:
            table_df = table_df.join(
                F.broadcast(tomb), tombstone_key, "left_anti"
            )
        rpt = (rows_per_task or {}).get(t)
        if rpt:
            n_tasks = max(1, math.ceil(table_df.count() / rpt))
            n_vals = _leaf_partition_count(src, pcs)
            salt = max(1, math.ceil(n_tasks / n_vals))
            exprs = [F.col(c) for c in pcs]
            if salt > 1 and tombstone_key:
                # seeded hash — partition values are commonly themselves
                # pmod(hash(key), n_vals), and an unseeded
                # pmod(hash(key), salt) correlated with that splits
                # nothing within a partition (fully determined whenever
                # salt divides n_vals)
                exprs.append(
                    F.pmod(
                        F.abs(F.hash(F.col(tombstone_key), F.lit("salt"))),
                        F.lit(salt),
                    )
                )
            part = table_df.repartition(n_tasks, *exprs)
        else:
            part = table_df.repartition(*[F.col(c) for c in pcs])
        (
            part.write.mode("overwrite")
            .partitionBy(*pcs)
            .parquet(new_dir)
        )
        manifest = _read_manifest(index_dir)
        manifest[t] = os.path.basename(new_dir)
        if manifest_updates and t == (manifest_updates_after or t):
            manifest.update(manifest_updates)
        _write_manifest(index_dir, manifest)  # the atomic publish
        # retention = 1: keep the just-superseded generation for
        # readers that resolved before the flip; drop anything older.
        for g in _generation_dirs(index_dir, t):
            if g not in (src, new_dir):
                shutil.rmtree(g)
        stats[t] = {
            "files_before": before,
            "files_after": len(data_files(new_dir)),
        }
    if tomb is not None and set(tables) <= set(todo):
        for f in tomb_files:
            os.remove(f)
    return stats


def index_stats(
    spark: SparkSession, index_dir: str, tables: dict[str, str | tuple[str, ...]]
) -> DataFrame:
    """Layout audit: one row per table with rows/partition skew,
    files/partition, and the table's on-disk byte footprint — rising
    ``max_part_files`` says compact now; ``max_part_rows`` vs
    ``avg_part_rows`` grades partition balance; ``bytes`` /
    ``bytes_per_row`` ground the storage-ladder claims (PQ codes vs SQ8
    vs raw) in the artifact itself instead of back-of-envelope math.
    Rows-only by design: physical file layout has no SQL twin."""
    out = None
    for t, pc in tables.items():
        pcs = _partition_cols(pc)
        scan = spark.read.parquet(table_path(index_dir, t))
        # ONE scan per table: aggregate to per-file grain first (a file
        # lives in exactly one partition directory, and _metadata
        # repeats its size on every row, so first() per file is exact),
        # then roll files → partitions → table. The previous shape read
        # the scan twice (per-partition agg + a separate distinct pass
        # for bytes) — same numbers, double the IO.
        per_file = scan.groupBy(
            *[F.col(c) for c in pcs],
            F.col("_metadata.file_path").alias("_fp"),
        ).agg(
            F.count(F.lit(1)).alias("rows"),
            F.first(F.col("_metadata.file_size")).alias("sz"),
        )
        per_part = per_file.groupBy(*[F.col(c) for c in pcs]).agg(
            F.sum("rows").alias("rows"),
            F.count(F.lit(1)).alias("files"),
            F.sum("sz").alias("pbytes"),
        )
        summary = (
            per_part.agg(
                F.count(F.lit(1)).alias("n_partitions"),
                F.sum("rows").alias("rows"),
                F.sum("files").cast("long").alias("files"),
                F.max("rows").alias("max_part_rows"),
                F.round(F.avg("rows"), 2).alias("avg_part_rows"),
                F.max("files").cast("long").alias("max_part_files"),
                F.sum("pbytes").cast("long").alias("bytes"),
            )
            .select(
                F.lit(t).alias("table"),
                "n_partitions",
                "rows",
                "files",
                "max_part_rows",
                "avg_part_rows",
                "max_part_files",
                "bytes",
            )
            .withColumn(
                "bytes_per_row",
                F.round(F.col("bytes") / F.greatest("rows", F.lit(1)), 1),
            )
        )
        out = summary if out is None else out.unionByName(summary)
    return out.orderBy("table")
