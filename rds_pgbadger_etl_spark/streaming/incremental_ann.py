"""Incremental ANN ingestion: flag each arriving micro-batch of
embeddings against everything indexed before it, then admit the batch
into the persisted ANN index — the ANN sibling of
streaming/incremental_dedup.py, on the same one-artifact principle:
the index a stream builds is the exact artifact the batch verbs service
(``ann_index_*_topk`` search, ``delete_from_ann_index``,
``compact_ann_index``, ``ann_index_stats``), and a corpus bootstrapped
with ``build_ann_index`` can be continued by a stream with no
migration.

Per micro-batch (foreachBatch):

- FIRST batch bootstraps the index (``build_ann_index_2level``, one
  group of ``S.N_CENTROIDS`` cells by default — the quantizers and PQ
  codebook train on it and are immutable afterwards: the IVF-PQ
  invariant that keeps append O(new) and all codes comparable),
  emitting no flags (nothing indexed yet);
- later batches are flagged against the STORE — per new vector, probe
  the ``n_probe`` nearest cells of its ``n_probe_groups`` nearest
  groups (a map-only kernel over the metadata-sized quantizer), scan
  ONLY those (group, cell) partitions of the ``raw`` table
  (partition-pruned, tombstone-filtered), then score via the cogrouped
  per-cell matmul
  (similarity.knn_join_cells — each side's rows shuffle once, dense
  linear algebra inside the cell) and keep the top-k per new vector —
  then admitted via ``append_to_ann_index`` (encoded against the
  stored quantizers, appended into the (group, cell) partitions,
  nothing rewritten);
- exactly-once per batch via the streaming checkpoint.

Scale: flagging is O(batch × probed-cell volume) FLOPs — the same
pruning ratio as a search (~n_probe/n_centroids of the corpus per
batch), never batch × corpus — executed as one matmul per cell, with
shuffle bytes O(batch + probed cells), not O(batch × cell volume). At
a fixed quantizer this cost still grows with the corpus (cells fatten);
a stream that expects to grow sizes its bootstrap with
``ann_index.auto_quantizer_shape(expected corpus size)``, which holds
cell volume constant (:func:`ann_index.auto_n_centroids`), so the
per-batch cost stays flat. State grows in the index's partitioned
layout, compacted on the operator's schedule.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rds_pgbadger_etl_spark.operators import ann_index as AI
from rds_pgbadger_etl_spark.operators import index_maintenance as M
from rds_pgbadger_etl_spark.operators import similarity as S

_FLAG_SCHEMA = "vec_id long, neighbor_id long, cosine double, rank int"

# Probe-selection metadata of the flag verb — the distinct probed
# (group, cell) pair set — is a pure function of (quantizer tables,
# batch, probe widths): cached in M.cached_meta under that fingerprint,
# so a repeated flag of the same batch against an unchanged store (the
# registered batch verbs re-evaluated; re-run analyst flagging) skips
# its driver-side distinct+collect job. The key embeds the quantizer tables' data-file
# lists (M.table_fingerprint: a rebuild/retrain rewrites them; appends
# never touch quantizers, so entries correctly survive them) plus the
# batch plan's semanticHash AND leaf input files (a re-read of a mutated
# external path must miss). Only metadata lists are cached, never rows.

# Plan-capture hook for the flag verb: it returns an EAGER
# localCheckpoint (mutation-safety — see _flag_probed), so a
# post-hoc .explain() shows only the checkpoint stub (Scan ExistingRDD).
# Profiling tools set this to a callable(df) and receive the REAL
# pre-checkpoint DataFrame right before materialization — the round-13
# flag-verb plan dumps were stubs for exactly this reason.
PRE_CHECKPOINT_PLAN_HOOK = None


def _probe_pairs_udf(
    group_ids: list[int],
    g_mat: np.ndarray,
    fine_by_group: dict[int, list],
    n_probe_groups: int,
    n_probe: int,
):
    """Map-only probe selection for the flag verb: per row, rank the
    coarse groups ((gsim desc, group asc), keep ``n_probe_groups``),
    then rank the candidate cells of exactly those groups
    ((sim desc, cell asc), keep ``n_probe``) — the same round-6 cosine
    and tie-break as the search arms' driver-side probe, so the batch
    never shuffles for probe selection and no window stage runs. The
    closure holds the coarse table and the fine shards; past
    broadcast-sized fine quantizers the distributed build/assign path
    is the tool."""
    gids = np.asarray(group_ids, dtype=np.int64)
    g = g_mat.astype(np.float64)
    gn = np.sqrt(np.einsum("ij,ij->i", g, g))
    fine = {
        int(grp): (
            np.asarray([c for c, _ in rows], dtype=np.int64),
            np.asarray([e for _, e in rows], dtype=np.float64),
        )
        for grp, rows in fine_by_group.items()
        if rows
    }
    for grp, (cids, mat) in fine.items():
        fine[grp] = (cids, mat, np.sqrt(np.einsum("ij,ij->i", mat, mat)))

    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("group", T.LongType()),
                T.StructField("cell", T.LongType()),
            ]
        )
    )

    @F.pandas_udf(out_type)
    def pairs(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)
        xn = np.sqrt(np.einsum("ij,ij->i", x, x))
        gsims = np.round((x @ g.T) / (xn[:, None] * gn[None, :]), 6)
        out = []
        for i in range(len(x)):
            order = np.lexsort((gids, -gsims[i]))[:n_probe_groups]
            top_groups = [int(gids[j]) for j in order]
            cand_g: list[np.ndarray] = []
            cand_c: list[np.ndarray] = []
            sims: list[np.ndarray] = []
            for grp in top_groups:
                entry = fine.get(grp)
                if entry is None:
                    continue
                cids, mat, mn = entry
                s = np.round((mat @ x[i]) / (mn * xn[i]), 6)
                cand_g.append(np.full(len(cids), grp, dtype=np.int64))
                cand_c.append(cids)
                sims.append(s)
            if not sims:
                out.append([])
                continue
            cg = np.concatenate(cand_g)
            cc = np.concatenate(cand_c)
            ss = np.concatenate(sims)
            sel = np.lexsort((cc, -ss))[:n_probe]
            out.append(
                [{"group": int(cg[j]), "cell": int(cc[j])} for j in sel]
            )
        return pd.Series(out)

    return pairs


def ann_index_exists(index_dir: str) -> bool:
    """Whether the index has been bootstrapped (its coarse quantizer
    table is on disk) — the first-batch probe. (Local-FS check; an
    object-store deployment would swap in the Hadoop FileSystem API.)"""
    return os.path.isdir(M.table_path(index_dir, "coarse"))


def _flag_probed(
    spark: SparkSession,
    emb_batch: DataFrame,
    index_dir: str,
    probes: DataFrame,
    widths: tuple[int, ...],
    k: int,
    threshold: float | None,
) -> DataFrame:
    """The flag verb's scoring tail, after its probe kernel: ``probes``
    is (q_id, q_emb, group, cell). The distinct probed partitions
    (cached in M.cached_meta) prune a tombstone-filtered scan of
    ``raw/``; a cogrouped per-cell matmul (similarity.knn_join_cells —
    cell ids are unique across groups) scores the batch against it, and
    each vector keeps its top-``k`` neighbors at or above
    ``threshold``. Returns an eagerly
    local-checkpointed DataFrame: lineage is truncated, so the result
    (and any plan derived from it) is safe against subsequent index
    mutation — the append that follows in the ingestion cycle cannot
    leak into the flags."""
    probes = probes.persist()
    try:
        # metadata-sized by construction: ≤ one row per cell
        probed = M.cached_meta(
            index_dir,
            (
                M.table_fingerprint(index_dir, ("coarse", "fine")),
                emb_batch.semanticHash(),
                M.batch_plan_files(emb_batch),
                widths,
            ),
            lambda: sorted(
                tuple(r) for r in probes.select(*AI._PARTS).distinct().collect()
            ),
        )
        raw = AI._live(
            spark,
            index_dir,
            spark.read.parquet(M.table_path(index_dir, "raw")).where(
                # probe-row shape (q_id, group, cell) for the shared predicate
                AI._probe_predicate([(None, *p) for p in probed])
            ),
        )
        # cogrouped per-cell matmul (knn_join_cells): each side's rows
        # move once; a row-pair join + per-pair cosine UDF would push
        # batch × probed-cell-volume rows through Arrow instead
        local = S.knn_join_cells(
            probes.select("q_id", "q_emb", "cell"),
            raw.select("vec_id", "embedding", "cell"),
            k,
        )
        top = S.topk_per_key(
            local.withColumnRenamed("vec_id", "neighbor_id"),
            "q_id",
            [F.col("cosine").desc(), F.col("neighbor_id")],
            k,
        ).select(
            F.col("q_id").alias("vec_id"),
            "neighbor_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
        if threshold is not None:
            top = top.filter(F.col("cosine") >= threshold)
        # eager localCheckpoint, not persist: the caller appends the
        # batch into the index right after this, and any plan DERIVED
        # from a merely-persisted result (a select, the batch_id
        # withColumn before the sink write) re-resolves the store's
        # file listing and silently recomputes against the mutated
        # store. Checkpointing truncates the lineage so derived plans
        # can only read the flagged snapshot.
        if PRE_CHECKPOINT_PLAN_HOOK is not None:
            PRE_CHECKPOINT_PLAN_HOOK(top)
        return top.localCheckpoint(eager=True)
    finally:
        probes.unpersist()


def flag_against_index(
    spark: SparkSession,
    emb_batch: DataFrame,
    index_dir: str,
    k: int = 3,
    n_probe: int = S.N_PROBE,
    threshold: float | None = None,
    *,
    n_probe_groups: int = AI.N_PROBE_GROUPS,
) -> DataFrame:
    """(vec_id, neighbor_id, cosine, rank): the top-``k`` already-indexed
    neighbors of each new vector, searched the IVF way — semantic
    near-dup flagging at ingest (also the batch kNN-join entry point:
    plans/llm_ops.ann_knn_join runs corpus-slice query sets through it).
    Probe selection is MAP-ONLY, never collecting the batch: one Arrow
    kernel (:func:`_probe_pairs_udf`) holds the coarse matrix plus the
    fine shards and emits each vector's top ``n_probe_groups`` groups ->
    top ``n_probe`` cells, so the batch neither shuffles nor passes a
    window for probing. Per-vector quantizer work is
    n_groups + n_probe_groups*(n_cells/n_groups) cosines — the same
    term the driver-side reader saves. Scoring is :func:`_flag_probed`
    (eagerly local-checkpointed) over the (group, cell)-pruned scan."""
    group_ids, g_mat = AI._read_coarse(spark, index_dir)
    fine_by_group = AI._fine_shards(spark, index_dir, group_ids)
    pairs_udf = _probe_pairs_udf(
        group_ids, g_mat, fine_by_group, n_probe_groups, n_probe
    )
    probes = emb_batch.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(pairs_udf(F.col("embedding"))).alias("pc"),
    ).select(
        "q_id",
        "q_emb",
        F.col("pc.group").alias("group"),
        F.col("pc.cell").alias("cell"),
    )
    return _flag_probed(
        spark, emb_batch, index_dir, probes, (n_probe_groups, n_probe), k,
        threshold,
    )


def run_incremental_ann(
    emb_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    flags_out_dir: str,
    k: int = 3,
    n_probe: int = S.N_PROBE,
    threshold: float | None = None,
    n_groups: int | None = 1,
    n_cells: int | None = S.N_CENTROIDS,
    residual: bool | str = False,
    sq8: bool = False,
    sq8_prefix_dims: int | None = None,
    binary: bool = False,
    *,
    n_probe_groups: int = AI.N_PROBE_GROUPS,
) -> None:
    """The ingestion pipeline: per micro-batch, flag each new embedding's
    nearest already-indexed neighbors (:func:`flag_against_index`,
    eagerly checkpointed so the append below cannot leak into the
    flags), write the flags, then admit the batch into the index
    (``append_to_ann_index``: assignment + PQ encode against the STORED
    quantizers, appended into the (group, cell) partitions, nothing
    rewritten). While the index does not exist a batch writes no flags
    and bootstraps it with ``build_ann_index_2level``. Runs with
    availableNow; exactly-once per batch via the streaming checkpoint.

    ``n_groups``/``n_cells`` size the bootstrap build only (the
    quantizers are immutable afterwards); the default is one group of
    ``S.N_CENTROIDS`` cells. NOTE the bootstrap sees just the FIRST
    micro-batch, so ``None`` (auto) would size for the batch, not the
    eventual corpus — a stream expecting to grow should pass
    ``ann_index.auto_quantizer_shape(expected_corpus_size)`` explicitly.

    ``residual`` passes to the bootstrap build; a store that already
    exists keeps whatever encoding it was built with (appends dispatch
    off the stored manifest flag). The STREAMING default is explicit
    ``False`` — NOT the batch builds' ``"auto"`` — for the same
    first-batch reason as the shape: the variance-ratio diagnostic
    would measure one unrepresentative micro-batch and stamp the
    encoding immutably (a batch at or below the centroid count measures
    ratio 0 and would lock residual encoding for a corpus where raw
    wins). A stream whose corpus is known-clustered passes ``True``;
    ``"auto"`` is accepted but decides from the first batch — use it
    only when that batch is representative.

    ``sq8=True`` derives the SQ8 arm right after the bootstrap build —
    its per-dim grid trains on the first batch and is immutable like
    the other quantizers (unclipped codes keep later out-of-range
    components exact); subsequent appends maintain the arm off the
    stored manifest flag, so streaming into a pre-built SQ8 store needs
    no flag here at all. Resuming with ``sq8=True`` over an existing
    store that LACKS the arm derives it once (idempotent) rather than
    silently ignoring the request.

    ``sq8_prefix_dims`` materializes the prefix-codes arm
    (add_sq8_prefix_to_ann_index) right after the SQ8 derive — the
    scan-side truncated-search arm on a streaming-born store; appends
    maintain it per batch off the manifest key like the SQ8 arm
    itself, and a resume over a store lacking it derives it once
    (same no-silent-drop contract as ``sq8``). Requires ``sq8``.

    ``binary=True`` derives the 1-bit Hamming arm the same way — its
    midrange thresholds train on the first batch (immutable; a
    drifting stream shows up in the bit-balance audit, never as an
    inexact search), appends maintain the words table off the manifest
    flag, and a resume over a store lacking the arm derives it once."""
    if sq8_prefix_dims is not None and not sq8:
        raise ValueError("sq8_prefix_dims requires sq8=True")

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if ann_index_exists(index_dir):
            flags = flag_against_index(
                spark, batch, index_dir, k, n_probe, threshold,
                n_probe_groups=n_probe_groups,
            )
            flags.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(flags_out_dir)
            AI.append_to_ann_index(spark, batch, index_dir)
        else:
            spark.createDataFrame([], _FLAG_SCHEMA).withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(flags_out_dir)
            AI.build_ann_index_2level(
                spark, batch, index_dir, n_groups=n_groups, n_cells=n_cells,
                residual=residual,
            )
        _ensure_arms(spark, index_dir, sq8, sq8_prefix_dims, binary)

    q = (
        emb_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _ensure_arms(
    spark: SparkSession,
    index_dir: str,
    sq8: bool,
    sq8_prefix_dims: int | None,
    binary: bool,
) -> None:
    """Derive any requested-but-absent derived arm (bootstrap and resume
    share the contract: a request is never silently dropped; both verbs
    are idempotent)."""
    if sq8 and not M.read_meta(index_dir, AI._SQ8_KEY, False):
        AI.add_sq8_to_ann_index(spark, index_dir)
    if (
        sq8_prefix_dims is not None
        and M.read_meta(index_dir, AI._SQ8_PREFIX_DIMS_KEY, None) is None
    ):
        AI.add_sq8_prefix_to_ann_index(spark, index_dir, sq8_prefix_dims)
    if binary and not M.read_meta(index_dir, AI._BINARY_KEY, False):
        AI.add_binary_to_ann_index(spark, index_dir)
