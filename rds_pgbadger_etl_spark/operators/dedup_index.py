"""Persisted dedup signature store (SURVEY X2 — the incremental-ingest
artifact, the dedup sibling of operators/ann_index.py).

`near_dup_pairs` is the right shape for deduping a corpus ONCE; the
operational question at 100 TB is different: an hourly batch of new
documents must be checked against everything already ingested without
re-shingling, re-hashing, or even re-reading the old corpus. This module
persists the per-document dedup state exactly once — the LSH band table
(candidate generation) and the distinct shingle sets (exact verify) —
and `dedup_index_lookup` answers "which stored docs does each new doc
near-duplicate?" touching only the store and the new batch:

- ``bands/``    (doc_id, band) **partitioned by pfx** (the band's first
  1-2 hex chars — fanout auto-sized at store creation and carried in
  the manifest, see PFX_SMALL_DOCS; 256 partitions at scale): a lookup
  probes only the partitions its new bands hash into — for an hourly
  batch that is a partition-pruned scan, and the equi-join on ``band``
  does the rest.
- ``profiles/`` (doc_id, shingle_set) **partitioned by bucket**
  (``pmod(hash(doc_id), 64)``): the verify step reads only the buckets
  holding candidate old ids.

All hashing is the same md5-derived family as operators/dedup.py, so
the store is bit-compatible with the in-session pipeline and the DuckDB
oracle (plans/llm_ops.py `dedup_index_lookup`): build-then-lookup is
hash-checked against the one-shot SQL that never materializes a store.

Scale notes: encode is the same single wide shuffle as
`shingle_profile` (explode is map-side, min/collect_set agg is the
exchange); the partitionBy writes are the only other exchanges.
`append_to_dedup_index` is O(new batch) — existing partitions' files
are never rewritten (one file-set per partition per batch; see
compact_ann_index for the same maintenance pattern). The verify join
reuses the family's two-path strategy (`_verify_join`'s shapes):
broadcast below `AUTO_VERIFY_PAIRS` candidates, shuffle above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.operators import index_maintenance as M
from rds_pgbadger_etl_spark.operators.dedup import (
    char_shingles,
    lsh_bands,
    resolve_verify_strategy,
    shingle_profile,
)

PFX_LEN = 2  # band partition prefix at scale: 2 hex chars -> 256 parts
N_BUCKETS = 64  # profile partitions

# Auto-sized prefix fanout: a batch append writes ONE FILE PER TOUCHED
# PARTITION VALUE, so for small stores the mutation cost is committer
# work ∝ fanout, not data (measured: the dominant term of the streaming
# funnel's cold build). Below this many docs the store is created with
# a 1-hex prefix (16 partitions — cheap appends); at or above it, the
# 2-hex 256-way layout a 100 TB deployment wants (the volume rule
# size_shuffle_partitions applies to exchanges, applied here to the
# layout). The store CARRIES its fanout in the generation manifest
# (``__pfx_len__``), so every later append/lookup/compaction resolves
# the same layout regardless of its own batch size; stores from before
# the marker default to 2 (their on-disk layout).
PFX_SMALL_DOCS = 200_000
_PFX_KEY = "__pfx_len__"


def _pfx_len(index_dir: str) -> int:
    return int(M.read_meta(index_dir, _PFX_KEY, PFX_LEN))


def _choose_pfx_len(n_docs: int) -> int:
    return 1 if n_docs < PFX_SMALL_DOCS else PFX_LEN

# Profile rows are WIDE (a shingle_set array is tens of KBs in memory),
# so every stage that holds them — the collect_set hash-aggregate in
# the encode, the partitionBy write's sort, the compaction rewrite —
# spills when it runs at the session-fixed task count (measured at 32
# tasks: ~0.7 GB disk per 200k-doc encode+write, ~2 GB in a 3 GB
# compaction). All three now size their exchange by row volume:
# ceil(rows / PROFILE_ROWS_PER_TASK) tasks (~60 MB of sets per task),
# with the write salted within bucket only once a batch outgrows one
# task per bucket — small batches keep one file per bucket per batch,
# huge batches trade a bounded file-set count (salt per bucket) for
# spill-free execution.
PROFILE_ROWS_PER_TASK = 2_000

# table name -> partition column (the shared-maintenance mapping)
_PARTITIONED_TABLES = {"bands": "pfx", "profiles": "bucket"}


def _bucket(id_col: str) -> F.Column:
    return F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(N_BUCKETS))


def _read_bands_typed(
    spark: SparkSession, index_dir: str, snapshot: dict | None = None
) -> DataFrame:
    """Read ``bands/`` with the partition column DECLARED as a string:
    partition-type inference looks at the directory values present, and
    a small store whose batches so far touched only digit-valued hex
    prefixes (likely at the 1-hex fanout: 10 of 16 values are digits)
    infers ``pfx`` as an integer — the probe's letter-valued hex
    strings then fail the ANSI cast at plan time. The data schema is
    taken from one footer (cheap local read) so string-id corpora keep
    their id type; partition pruning on an explicitly-typed column is
    unaffected. ``snapshot`` resolves the generation from an
    already-taken manifest snapshot (readers that also consult the
    fanout key MUST pass one — see index_maintenance.manifest_snapshot
    on the upgrade-flip straddle)."""
    import os

    from pyspark.sql import types as T

    root = M.table_path_in(
        snapshot
        if snapshot is not None
        else M.manifest_snapshot(index_dir),
        index_dir,
        "bands",
    )
    first = M.data_files(root)[0]
    data_schema = spark.read.parquet(os.path.join(root, first)).schema
    schema = T.StructType(
        list(data_schema.fields) + [T.StructField("pfx", T.StringType())]
    )
    return spark.read.schema(schema).parquet(root)


def _encode(docs: DataFrame, id_col: str, text_col: str):
    """(profiles, bands) for a document batch — ONE wide shuffle (the
    shingle_profile hash-aggregate); bands derive from the sigs already
    in the profile row, no second pass over text. The aggregate's
    exchange is volume-sized (an explicit repartition on the id — the
    following groupBy reuses the partitioning, no second shuffle): at
    the session-fixed task count a corpus-scale batch holds too many
    wide shingle_set rows per hash-agg task and spills
    (PROFILE_ROWS_PER_TASK)."""
    import math

    n_tasks = max(
        1, math.ceil(docs.count() / PROFILE_ROWS_PER_TASK)
    )
    sh = char_shingles(docs, id_col, text_col).repartition(
        n_tasks, F.col(id_col)
    )
    prof = shingle_profile(sh, id_col)
    prof = prof.persist()
    bands = lsh_bands(prof, id_col)
    return prof, bands


def _write(
    prof: DataFrame,
    bands: DataFrame,
    index_dir: str,
    id_col: str,
    mode: str,
    parallel: bool = False,
) -> None:
    """Land the two store tables. ``parallel=True`` submits the two
    write jobs from concurrent threads (Spark's scheduler interleaves
    them): the tables are disjoint directories, and for SMALL batches
    each write's cost is committer overhead (one file per partition
    value per batch — ~256 pfx dirs), not data volume, so overlapping
    them roughly halves a streaming batch's store-mutation wall time.
    Callers must pass inputs whose lineage is already safe against the
    mutation (persisted/checkpointed), as with the sequential path."""
    import math

    # store creation fixes the prefix fanout from the creating corpus's
    # size (committer cost vs pruning trade — see PFX_SMALL_DOCS); every
    # later writer/reader resolves the stamped value. prof arrives
    # persisted from _encode, so the sizing count is (re)used by the
    # profile write below.
    if (
        M.read_meta(index_dir, _PFX_KEY, None) is None
        and not dedup_index_exists(index_dir)
    ):
        M.write_meta(index_dir, _PFX_KEY, _choose_pfx_len(prof.count()))
    pfx_len = _pfx_len(index_dir)

    def _write_bands() -> None:
        (
            bands.withColumn("pfx", F.substring("band", 1, pfx_len))
            .repartition(F.col("pfx"))
            .write.mode(mode)
            .partitionBy("pfx")
            .parquet(M.table_path(index_dir, "bands"))
        )

    def _write_profiles() -> None:
        # volume-sized exchange for the wide profile rows (see
        # PROFILE_ROWS_PER_TASK): `prof` arrives persisted from _encode,
        # so the count materializes the encode once, the write reads cache
        n_tasks = max(1, math.ceil(prof.count() / PROFILE_ROWS_PER_TASK))
        salt = max(1, math.ceil(n_tasks / N_BUCKETS))
        (
            prof.select(id_col, "shingle_set")
            .withColumn("bucket", _bucket(id_col))
            .repartition(
                n_tasks,
                F.col("bucket"),
                # seeded hash: bucket itself is pmod(hash(id), 64), so an
                # UNseeded pmod(hash(id), salt) is correlated with it
                # (fully determined when salt divides 64) and splits
                # nothing within a bucket
                F.pmod(F.abs(F.hash(F.col(id_col), F.lit("salt"))), F.lit(salt)),
            )
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(M.table_path(index_dir, "profiles"))
        )

    if parallel:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(_write_bands), ex.submit(_write_profiles)]:
                f.result()
    else:
        _write_bands()
        _write_profiles()


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Encode the corpus once and persist its dedup state (bands +
    shingle profiles). Re-runs overwrite atomically per Spark's
    committer (O13 semantics)."""
    prof, bands = _encode(docs, id_col, text_col)
    try:
        _write(prof, bands, index_dir, id_col, "overwrite")
    finally:
        prof.unpersist()


def append_to_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Admit a new batch into the store — O(batch): the batch is encoded
    with the same deterministic hash family and its rows APPEND into the
    band/profile partitions; nothing existing is rewritten. Identical to
    having built the store over the union corpus (same per-doc rows by
    construction — the hashes depend only on the doc), pinned by
    tests/test_dedup_index.py."""
    prof, bands = _encode(docs, id_col, text_col)
    try:
        _write(prof, bands, index_dir, id_col, "append")
    finally:
        prof.unpersist()


def dedup_index_exists(index_dir: str) -> bool:
    """Whether the store has been built (its band table is on disk) —
    the first-batch probe incremental ingestion needs before it can
    look anything up. (Local-FS check; an object-store deployment would
    swap in the Hadoop FileSystem API — same contract.)"""
    import os

    return os.path.isdir(M.table_path(index_dir, "bands"))


def dedup_index_lookup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    verify_strategy: str = "auto",
) -> DataFrame:
    """Near-dup check of a new batch AGAINST THE STORE: (old_id, new_id,
    jaccard) for every stored document a new document near-duplicates —
    the old corpus is never re-read, let alone re-shingled.

    Plan: encode the batch (one wide shuffle over the BATCH only);
    probe ``bands/`` partition-pruned to the batch's band prefixes
    (≤256 values, collected from the batch's own bands — metadata-sized
    by construction) with an equi-join on ``band``; verify candidates
    against ``profiles/`` pruned to the candidates' buckets, via the
    family's two-path verify (broadcast below AUTO_VERIFY_PAIRS
    candidates, shuffle above — resolve_verify_strategy)."""
    prof_new, bands_new = _encode(new_docs, id_col, text_col)
    result, _pinned = _lookup_encoded(
        spark, prof_new, bands_new, index_dir, id_col, threshold,
        verify_strategy,
    )
    return result


# Plan-construction metadata of a lookup — the batch's pfx set, the
# resolved verify strategy, and the candidates' bucket set — is a pure
# function of (store files, tombstones, batch): cached in M.cached_meta
# per that fingerprint so a repeated lookup of the same batch against an
# unchanged store (re-run analyst flagging, repeated evaluations) skips
# its three driver-side collect jobs. The key embeds the manifest
# snapshot, the bands data-file list, the tombstone file list, AND the
# batch plan's own leaf input files — semanticHash() hashes the LOGICAL
# plan, so a batch re-read from an external path whose contents were
# replaced (same root path) would otherwise collide with the stale entry
# and silently prune to the old pfx/bucket sets; the leaf-file list
# separates them (LocalRelation batches list no files — their data is
# already in the semanticHash). Any store mutation (build, append,
# delete, compaction flip) changes the key, so an entry can never be
# served stale. Streaming micro-batches have distinct plans (new source
# offsets), so their semanticHash never collides — they simply miss.
# Only metadata (lists of hex prefixes / bucket ints, a strategy string)
# is cached, never rows.


def _lookup_encoded(
    spark: SparkSession,
    prof_new: DataFrame,
    bands_new: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    verify_strategy: str = "auto",
    max_band_freq: int | str | None = "auto",
) -> tuple[DataFrame, list[DataFrame]]:
    """The lookup body over a PRE-ENCODED batch — incremental ingestion
    encodes each micro-batch exactly once and shares (prof, bands)
    between this flagging step and the subsequent store append. Returns
    (result, pinned): ``pinned`` are the DataFrames persisted while
    building the plan; callers that consume the result eagerly (the
    streaming foreachBatch) unpersist them afterwards.

    ``max_band_freq`` is the hot-band cap applied to the STORE side of
    the probe join: a boilerplate band accumulated across the ingested
    history is the quadratic exposure here — every new batch matching
    it joins against the whole family. Default ``"auto"`` uses the
    fixed AUTO_BAND_FREQ_FLOOR, NOT the median rule the batch operators
    use: the pfx-pruned scan is selection-biased toward the batch's own
    bands (a tiny batch probing a template-dominated prefix sees mostly
    the hot counts), so a threshold derived from it would be dragged up
    by exactly the keys it should cap. Healthy minhash bands are
    md5-near-unique, so the floor — the scale-independent 64²/2-rows
    bound — is the right constant, and it costs no extra aggregate.
    The pruned scan is persisted: the hot-set groupBy and the probe
    join share one read."""
    pinned: list[DataFrame] = []
    # ONE manifest snapshot supplies both the fanout width and the
    # bands generation — two separate reads could straddle a fanout
    # upgrade and probe the new layout at the old width (silently-empty
    # lookups)
    snap = M.manifest_snapshot(index_dir)
    meta_key = (
        tuple(sorted(snap.items())),
        tuple(
            sorted(
                M.data_files(M.table_path_in(snap, index_dir, "bands"))
            )
        ),
        tuple(M._tombstone_files(index_dir)),
        bands_new.semanticHash(),
        M.batch_plan_files(bands_new),
        id_col,
        str(max_band_freq),
        verify_strategy,
    )
    bands_new = bands_new.withColumn(
        "pfx", F.substring("band", 1, int(snap.get(_PFX_KEY, PFX_LEN)))
    ).persist()
    pinned.append(bands_new)
    pfxs = M.cached_meta(
        index_dir,
        (*meta_key, "pfxs"),
        lambda: sorted(
            r.pfx for r in bands_new.select("pfx").distinct().collect()
        ),
    )
    stored_bands = M.live(
        spark,
        index_dir,
        _read_bands_typed(spark, index_dir, snap).where(
            F.col("pfx").isin(pfxs)
        ),
        id_col,
    ).select(F.col(id_col).alias("old_id"), "band")
    if max_band_freq is not None:
        from rds_pgbadger_etl_spark.operators.dedup import (
            AUTO_BAND_FREQ_FLOOR,
        )

        cap = (
            AUTO_BAND_FREQ_FLOOR
            if max_band_freq == "auto"
            else max_band_freq
        )
        stored_bands = stored_bands.persist()
        pinned.append(stored_bands)
        hot = (
            stored_bands.groupBy("band")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > cap)
            .select("band")
        )
        stored_bands = stored_bands.join(
            F.broadcast(hot), "band", "left_anti"
        )
    cands = (
        stored_bands.join(
            bands_new.select(F.col(id_col).alias("new_id"), "band"),
            "band",
        )
        .filter(F.col("old_id") != F.col("new_id"))
        .select("old_id", "new_id")
        .distinct()
        .persist()
    )
    strategy, buckets = M.cached_meta(
        index_dir,
        (*meta_key, "verify"),
        lambda: (
            resolve_verify_strategy(verify_strategy, cands),
            sorted(
                r.b
                for r in cands.select(
                    F.pmod(F.abs(F.hash("old_id")), F.lit(N_BUCKETS)).alias(
                        "b"
                    )
                )
                .distinct()
                .collect()
            ),
        ),
    )
    prof_old = (
        spark.read.parquet(M.table_path(index_dir, "profiles"))
        .where(F.col("bucket").isin(buckets))
        .select(F.col(id_col).alias("old_id"), F.col("shingle_set").alias("so"))
    )
    pn = prof_new.select(
        F.col(id_col).alias("new_id"), F.col("shingle_set").alias("sn")
    )
    if strategy == "shuffle":
        verified = cands.join(prof_old, "old_id").join(pn, "new_id")
    else:
        with_old = prof_old.join(F.broadcast(cands), "old_id")
        verified = pn.join(F.broadcast(with_old), "new_id")
    inter = F.size(F.array_intersect("so", "sn"))
    jaccard = (
        inter.cast("double")
        / (F.size("so") + F.size("sn") - inter).cast("double")
    ).alias("jaccard")
    result = verified.select("old_id", "new_id", jaccard).filter(
        F.col("jaccard") >= threshold
    )
    pinned.append(cands)
    return result, pinned


def delete_from_dedup_index(
    spark: SparkSession, doc_ids, index_dir: str, key_type: str = "long"
) -> None:
    """Logical delete (takedowns, canonical-dedup removals): ids land in
    the ``tombstones/`` side table; lookups anti-join the band probe
    against it (filtering candidates suffices — a doc that can't become
    a candidate can't reach verify), and :func:`compact_dedup_index`
    applies the tombstones physically then clears them. Same lifecycle
    as the ANN index (operators/index_maintenance.py). ``key_type``
    must match the store's doc_id dtype (string-id corpora pass
    ``"string"``); mismatches raise instead of tombstoning NULLs."""
    M.write_tombstones(spark, doc_ids, index_dir, "doc_id", key_type)


def compact_dedup_index(
    spark: SparkSession,
    index_dir: str,
    tables: tuple[str, ...] = ("bands", "profiles"),
) -> dict:
    """Rewrite each store table to one file-set per partition (appends
    land one file-set per batch), applying any pending tombstones
    physically — the shared generation-manifest maintenance pass
    (atomic manifest flip; see operators/index_maintenance.py). The
    wide-row profiles rewrite is volume-sized (PROFILE_ROWS_PER_TASK)
    so a corpus-scale compaction never spills; past ~64 tasks it leaves
    a bounded handful of file-sets per bucket instead of exactly one.

    FANOUT UPGRADE: a store created small (1-hex prefix) that has since
    grown past PFX_SMALL_DOCS gets its bands table rewritten at the
    at-scale 2-hex fanout during the compaction it needs anyway — the
    prefix column is recomputed from ``band`` in the same rewrite, and
    the new ``__pfx_len__`` is published in the SAME atomic manifest
    write as the bands generation flip, so a reader taking one manifest
    snapshot can never pair the new width with the old layout (or vice
    versa). The 100 TB-shaped layout is thus reached by growth, not
    only by big creation."""
    transforms = None
    updates = None
    if "bands" in tables and _pfx_len(index_dir) < PFX_LEN:
        n_docs = (
            spark.read.parquet(M.table_path(index_dir, "profiles")).count()
        )  # one profile row per doc
        if n_docs >= PFX_SMALL_DOCS:
            transforms = {
                "bands": lambda df: df.drop("pfx").withColumn(
                    "pfx", F.substring("band", 1, PFX_LEN)
                )
            }
            updates = {_PFX_KEY: PFX_LEN}
    return M.compact_index(
        spark,
        index_dir,
        _PARTITIONED_TABLES,
        tables,
        "doc_id",
        rows_per_task={"profiles": PROFILE_ROWS_PER_TASK},
        transforms=transforms,
        manifest_updates=updates,
        manifest_updates_after="bands",
    )


def dedup_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Layout audit (rows/partition skew, files/partition) — rows-only
    by design, same contract as ann_index_stats."""
    return M.index_stats(spark, index_dir, _PARTITIONED_TABLES)
