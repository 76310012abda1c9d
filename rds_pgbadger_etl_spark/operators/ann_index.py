"""Persisted on-disk ANN index (SURVEY X3 — the 100 TB artifact).

The in-session ANN family (operators/similarity.py) stages its IVF cell
assignment, PQ codes, and LSH bands with ``persist()`` — right for one
session, but a user re-attaching to the corpus would rebuild everything.
This module is the missing operational half: ``build_ann_index`` writes
the staging tables ONCE as layout-aware parquet, and the ``ann_index_*``
readers answer top-k from the artifact alone — a fresh SparkSession
never touches the raw corpus again (pinned by
tests/test_ann_index.py::test_fresh_session_answers_from_index).

Layout (all under ``index_dir``): one layout, a two-level quantizer
(coarse groups over fine cells, the IMI of Babenko & Lempitsky, CVPR
2012). :func:`build_ann_index` stores its IVF quantizer as one group;
:func:`build_ann_index_2level` shards the cells over several. The
corpus tables are partitioned by ``(group, cell)`` (:data:`_PARTS`),
so a probe prunes on group at the top directory level and cell below.

- ``coarse/``      (group, g_emb) — the coarse groups, tiny.
- ``fine/``        (cell, c_emb) **partitioned by group** — the fine
  centroids, sharded by their coarse group, so a reader fetches only
  the probed groups' shards.
- ``codebook/``    (subspace, dim, cell, ic) — PQ centroid components in
  the exact-integer domain (PQ_INT_SCALE), m×k×sub rows, tiny.
- ``vectors/``     (vec_id, codes array<int>) — the PQ-encoded corpus,
  ONE row per vector with the PQ_M codes packed into an array (the long
  form repeated the 8-byte vec_id per subspace — 4x the rows and bytes
  for 4x 4-bit payloads). Probing n_probe of the cells is a
  partition-pruned scan reading ~n_probe/n_cells of log2(PQ_K)·PQ_M
  bits per vector: both IVF-PQ pruning axes fall out of the layout, and
  ADC scoring is a MAP-SIDE array expression over the broadcast
  flattened LUT (no per-subspace join, no (q_id, vec_id) re-aggregation
  shuffle).
- ``raw/``         (vec_id, embedding) — the IVF-Flat rerank arm: exact
  cosine inside probed cells only.
- Flagged arms, present once added and listed in the manifest (each
  reader fails loudly without its flag): ``lsh_buckets/`` (vec_id,
  bucket) **partitioned by table_id**, the random-hyperplane bands for
  candidate generation, written by :func:`build_ann_index` only;
  ``sq8/`` (vec_id, codes array<int>) and ``sq8_prefix/`` (its leading
  codes) with their grid ``sq_stats/`` (dim, vmin, vmax); ``binary/``
  (vec_id, words array<long>) with its thresholds ``bin_stats/`` (dim,
  thresh). The code tables are partitioned by ``(group, cell)``; the
  grids are tiny.
- ``tombstones/``  (vec_id) — logically deleted ids, applied at
  compaction.

Who writes each table. A build or append whose input Spark estimates at
most one scan split (``spark.sql.files.maxPartitionBytes``, the bound
the driver-side search uses; :func:`_collect_small`) is collected in
one job and landed on the DRIVER: ``vectors/``, ``raw/``,
``lsh_buckets/``, ``sq8/``, ``sq8_prefix/`` and ``binary/`` are encoded
by the numpy kernels the UDFs wrap and written with pyarrow, one file
per partition value, as Spark's partitionBy lays them out
(:func:`_land_local`). A larger input runs the SPARK plan: map-only UDF
passes and partitionBy writes (:func:`_land_corpus`), with each row
joined to its own centroid (broadcast) where the residual encoder, the
codebook or the variance diagnostic needs it. That one Spark landing
also serves :func:`build_ann_index_2level_distributed`, the path past
the AUTO_MAX_CELLS_2L clamp: its cogrouped assignment never collects
the fine quantizer, and on a residual index it encodes each row in the
cogroup, where the row's ``fine/`` shard already is. On
both sides the metadata-sized quantizer tables (``coarse/``, ``fine/``,
``codebook/``) are written and read with pyarrow, except that the
distributed two-level build writes ``fine/`` with Spark. The
derived-arm verbs (``add_sq8_to_ann_index`` and friends) and compaction
always run on Spark, so a table can hold files of both writers.

Query-side terms (probe selection, the per-query ADC lookup table, the
query's LSH bucket signatures) are computed on the DRIVER from the tiny
quantizer/codebook tables: queries × probed-group cells cosines and
queries × m × k integer distances — metadata-scale by construction, and
bit-identical to the distributed formulas (same np.round/einsum
conventions as similarity.cosine_batch / pq_distances), so results
hash-match the in-session ann_*_topk oracles exactly.
"""

from __future__ import annotations

import ctypes
import functools
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from rds_pgbadger_etl_spark.operators import index_maintenance as M
from rds_pgbadger_etl_spark.operators import similarity as S
from rds_pgbadger_etl_spark.session import max_partition_bytes

Query = tuple[int, list[float]]


AUTO_CELL_ROWS = 65_536  # target IVF cell volume for auto sizing
AUTO_MAX_CELLS = 4_096
# Fine-cell ceiling for the SHIPPED two-level build: quantizer training
# collects the max(n_groups, n_cells) prefix to the driver and
# _group_of_cells does a dense n_cells x n_groups matmul — ~1M cells
# (256 MB of float64 centroids at DIM=64) is where that pass stops
# being driver-feasible. The (group, cell) LAYOUT itself would carry
# AUTO_MAX_CELLS**2 cells; past this cap build_ann_index_2level_distributed
# builds them (distributed gmap and cogrouped assignment, the same
# landing), with no change to the layout or any reader.
AUTO_MAX_CELLS_2L = 2**20

# Two-level IVF defaults for the registered benchmark queries (tiny
# fixture corpora; production shapes come from auto_quantizer_shape).
N_GROUPS_2L = 4
N_CELLS_2L = 16
N_PROBE_GROUPS = 2

# On-disk layout version, stamped into the generation manifest by every
# build and checked by append/read/compact. Version 3 = one layout:
# ``coarse/`` + ``fine/`` quantizers, corpus tables partitioned by
# (group, cell), packed ``vectors/`` rows (version 2 also had a
# single-level layout: one centroid table, cell-partitioned tables).
# Any other stamp, or none (the long-form (vec_id, subspace, code) era),
# fails loudly with a rebuild message instead of, e.g., an append
# writing mixed-layout parquet into one table — a corruption that only
# surfaces at read time.
LAYOUT_VERSION = 3
_LAYOUT_KEY = "__ann_layout__"
# The partition columns every corpus table (vectors/, raw/, sq8/,
# sq8_prefix/, binary/) is written under.
_PARTS = ("group", "cell")


def _check_layout(index_dir: str) -> None:
    """Raise unless the manifest's layout stamp is LAYOUT_VERSION. Read
    on every call: searches pass here on a quantizer cache miss
    (:func:`_read_coarse`), the write and maintenance verbs on entry."""
    got = M.read_meta(index_dir, _LAYOUT_KEY)
    if got != LAYOUT_VERSION:
        raise ValueError(
            f"ANN index at {index_dir!r} has layout version {got!r}, "
            f"expected {LAYOUT_VERSION} (coarse/ + fine/ quantizers, "
            "tables partitioned by (group, cell)). It predates the "
            "current on-disk format — rebuild it with build_ann_index / "
            "build_ann_index_2level before appending, searching, or "
            "compacting."
        )


def auto_n_centroids(n_vecs: int, n_probe: int = S.N_PROBE) -> int:
    """Measured-calibrated coarse-quantizer size for ``n_vecs`` vectors:
    hold cell volume at ~AUTO_CELL_ROWS rows, capped at AUTO_MAX_CELLS.

    FLOP balance alone (probe cost ``a*C`` vs cell-scan cost
    ``b*n_probe*n/C``) says ``C* = sqrt(n_probe*n)`` — but on a
    file-per-cell parquet layout per-file constants (listing, open,
    footer, row-group minima) dominate once cells shrink: the 4M-vector
    rehearsal measured C=2048 (the sqrt point, ~2k-row cells) at 3x the
    point-search latency and ~2x the build/append/compact cost of
    C=32..64 (~65-125k-row cells), while flag-batch throughput between
    the two differed by <2x (BENCH_NOTES "centroid scaling at 4M").
    Constant cell volume also makes per-batch ingest-flag cost flat in
    corpus size (the incremental_ann contract) instead of linear.

    Power-of-two so cell counts are stable across nearby corpus sizes;
    floored at N_CENTROIDS; capped at AUTO_MAX_CELLS (~270M rows on) —
    past the cap, cells fatten again and a deployment should shard the
    quantizer over several groups instead (:func:`auto_quantizer_shape`,
    :func:`build_ann_index_2level`), which changes no table, only the
    number of groups. ``n_probe`` is accepted for signature stability but
    the volume rule does not depend on it.
    """
    import math

    cells = n_vecs / AUTO_CELL_ROWS
    pow2 = 2 ** round(math.log2(cells)) if cells >= 1 else 1
    return int(min(AUTO_MAX_CELLS, max(S.N_CENTROIDS, pow2)))


def auto_quantizer_shape(n_vecs: int) -> tuple[int, int]:
    """Quantizer shape past the AUTO_MAX_CELLS wall: ``(n_groups,
    n_cells)``; ``n_groups == 1`` is the shape :func:`build_ann_index`
    writes with :func:`auto_n_centroids` (one group over every cell).

    One-group IVF holds cell volume at ~AUTO_CELL_ROWS up to
    AUTO_MAX_CELLS cells (~270M vectors); past the cap cells fatten
    linearly and per-probe scan cost grows with the corpus again. The
    two-level quantizer (coarse groups over fine cells — IMI/two-level
    IVF) removes the cap: total fine cells keep following the
    constant-volume rule UNCAPPED, and the cells are sharded into
    ~sqrt(n_cells) coarse groups so no single quantizer level exceeds
    ~sqrt of the uncapped count. Probe cost per query is then
    ``n_groups + n_probe_groups * n_cells / n_groups`` centroid cosines
    instead of ``n_cells`` — the driver/assignment-side wall that
    motivated the cap. Both levels stay power-of-two for stability
    across nearby corpus sizes.

    The rule clamps at AUTO_MAX_CELLS_2L fine cells (~6.9e10 rows at
    constant volume) — not the layout's theoretical AUTO_MAX_CELLS**2 —
    because the driver build trains the quantizers driver-side
    (build_ann_index_2level's prefix collect + _group_of_cells matmul),
    which is feasible to ~1M cells. Past the clamp, cells fatten
    linearly exactly as one group does past ITS cap, unless the caller
    passes the uncapped shape to :func:`build_ann_index_2level_distributed`,
    which never collects the fine quantizer and lands through the same
    :func:`_land_corpus`; neither changes a reader or the layout.
    """
    import math

    cells = n_vecs / AUTO_CELL_ROWS
    pow2 = 2 ** round(math.log2(cells)) if cells >= 1 else 1
    n_cells = int(max(S.N_CENTROIDS, pow2))
    if n_cells <= AUTO_MAX_CELLS:
        return 1, n_cells
    n_cells = min(n_cells, AUTO_MAX_CELLS_2L)
    n_groups = 2 ** round(math.log2(math.sqrt(n_cells)))
    return int(n_groups), n_cells


# Residual PQ (the FAISS IndexIVFPQ composition): encode r(x) = x - c(x)
# — the vector MINUS its IVF centroid — instead of x itself. Residuals
# concentrate around the origin with far less variance than raw
# vectors, so the SAME codebook size quantizes them finer and ADC
# distances sharpen; the cost is that the query-side LUT becomes
# per-(query, PROBED CELL): the query's residual depends on which cell
# is being scanned. Everything stays in the exact integer domain —
# residual components are DIFFERENCES of the standard half-up
# quantizations (ir = iv(x) - iv(c)), so codes and ADC sums remain
# bit-reproducible across engines and the DuckDB twin is plain integer
# arithmetic over the existing lf CTE.
_RESIDUAL_KEY = "__pq_residual__"

# How the residual knob was resolved: {"mode": "auto"|"explicit",
# "variance_ratio": float|None, "chosen_residual": bool} — stamped in
# the generation manifest so a store's encoding choice is auditable.
_RESIDUAL_MODE_KEY = "__pq_residual_mode__"

# residual="auto" picks residual encoding when the coarse quantizer
# captures locality: intra-cell variance E||x - c(x)||^2 well below the
# corpus variance E||x - mean||^2 means residuals concentrate near the
# origin and the codebook quantizes them finer (the clustered regime,
# measured 8x better ADC recall at 8M); on a corpus the cells DON'T
# compress (hash-uniform embeddings: ratio ~= 1) residual encoding is
# strictly worse (the registered negative control, 0.24 vs 0.40
# recall@10), so raw wins. 0.5 sits between the measured regimes
# (clustered rehearsal ~0.1, uniform fixture ~0.9) with wide margins.
RESIDUAL_AUTO_RATIO = 0.5

# diagnostic sample: 1-in-16 deterministic hash sample, plus the low-id
# prefix so tiny fixtures never sample empty
def _sampled():
    return (F.pmod(F.abs(F.hash("vec_id")), F.lit(16)) == 0) | (
        F.col("vec_id") < 1024
    )


def _assignment_variance_ratio(assigned: DataFrame, cents: DataFrame) -> float:
    """Intra-cell / global variance ratio of an assigned corpus — the
    residual="auto" diagnostic, over the rows :func:`_land` persists or
    the distributed build's assigned sample: a deterministic hash sample
    joined to each row's own centroid (``cents``: (group, cell, c_emb),
    broadcast from :func:`_land`, ``fine/`` itself from
    :func:`build_ann_index_2level_distributed`), one metadata-sized
    partial per Arrow batch. intra = mean ||x - c(x)||^2 against the
    ASSIGNED centroid; global = mean ||x||^2 - ||mean x||^2 (the standard
    decomposition, so no second pass for the mean)."""
    sample = assigned.filter(_sampled()).join(cents, list(_PARTS))

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            p = _partial(_stack(pdf["embedding"]), _stack(pdf["c_emb"]))
            yield pd.DataFrame(
                {
                    "n": pd.Series([p.n], dtype="int64"),
                    "ss": [p.ss],
                    "rss": [p.rss],
                    "sv": [p.sv],
                }
            )

    return _ratio_from_partials(
        sample.select("embedding", "c_emb")
        .mapInPandas(partials, _VAR_PARTIAL_SCHEMA)
        .collect()
    )


_VAR_PARTIAL_SCHEMA = "n bigint, ss double, rss double, sv array<double>"


class _Partial(NamedTuple):
    """Metadata-sized variance partial of one batch of (vector,
    assigned-centroid) rows."""

    n: int
    ss: float
    rss: float
    sv: list


def _partial(x: np.ndarray, c: np.ndarray) -> _Partial:
    r = x - c
    return _Partial(
        len(x), float((x * x).sum()), float((r * r).sum()), x.sum(axis=0).tolist()
    )


def _ratio_from_partials(rows) -> float:
    """Reduce the metadata-sized (n, ss, rss, sv) partials into the
    intra-cell / global variance ratio."""
    n = sum(r.n for r in rows)
    if n == 0:
        return 1.0  # empty corpus: no locality evidence, keep raw
    ss = sum(r.ss for r in rows)
    rss = sum(r.rss for r in rows)
    mean = np.sum([r.sv for r in rows], axis=0) / n
    var_total = ss / n - float(mean @ mean)
    if var_total <= 0:  # all-identical corpus: residuals are exact
        return 0.0
    return (rss / n) / var_total


def _resolve_residual_auto(
    index_dir: str, residual: bool | str, ratio: Callable[[], float]
) -> bool:
    """Resolve the residual knob AFTER the assignment exists: explicit
    bools pass through; ``"auto"`` measures the variance ratio
    (``ratio()`` — :func:`_local_variance_ratio` on the driver landing,
    :func:`_assignment_variance_ratio` on the Spark one and on
    :func:`build_ann_index_2level_distributed`, the path past the
    AUTO_MAX_CELLS_2L clamp, which measures its assigned sample before
    its one assignment pass) and chooses. Either way the choice
    and how it was made are stamped in the manifest (readers and appends
    dispatch off _RESIDUAL_KEY; _RESIDUAL_MODE_KEY is the audit
    trail)."""
    if residual == "auto":
        value = ratio()
        chosen = bool(value < RESIDUAL_AUTO_RATIO)
        mode = {"mode": "auto", "variance_ratio": round(float(value), 4)}
    else:
        chosen = bool(residual)
        mode = {"mode": "explicit", "variance_ratio": None}
    M.write_meta(
        index_dir, _RESIDUAL_MODE_KEY, {**mode, "chosen_residual": chosen}
    )
    M.write_meta(index_dir, _RESIDUAL_KEY, chosen)
    return chosen


def _int_centroids(mat: np.ndarray) -> np.ndarray:
    """half-up integer components of the centroid matrix — the same
    PQ_INT_SCALE quantization pq_long_form applies to corpus vectors,
    so residual components are differences of like-quantized values."""
    return S._half_up(np.asarray(mat, dtype=np.float64) * S.PQ_INT_SCALE)


def _stack(col: pd.Series) -> np.ndarray:
    """A pandas column of equal-length vectors as a float64 matrix."""
    return np.vstack(col.to_numpy()).astype(np.float64)


def _pq_encode(x: np.ndarray, ic: np.ndarray, ci: np.ndarray | None) -> np.ndarray:
    """PQ codes of the float64 rows ``x`` against the integer codebook
    ``ic``: quantize (HALF_UP), then :func:`similarity.pq_argmin`. Given
    ``ci``, each row's own centroid as :func:`_int_centroids`, the row's
    RESIDUAL is encoded instead."""
    iv = S._half_up(x * S.PQ_INT_SCALE)
    if ci is not None:
        iv = iv - ci
    return S.pq_argmin(iv, ic)


def _pq_codes(df: DataFrame, ic: np.ndarray, residual: bool) -> DataFrame:
    """(vec_id, group, cell, codes) of ``df``'s rows: :func:`_pq_encode`
    over whole Arrow batches of the (embedding, c_emb) columns, with no
    per-row conversion; ``c_emb``, each row's own centroid, is read for
    a residual index only."""

    def encode(batches):
        for b in batches:
            c = _int_centroids(_matrix(b.column("c_emb"))) if residual else None
            codes = _pq_encode(_matrix(b.column("embedding")), ic, c)
            yield pa.RecordBatch.from_arrays(
                [*(b.column(k) for k in ("vec_id", *_PARTS)), _list_array(codes)],
                names=["vec_id", *_PARTS, "codes"],
            )

    cols = ["vec_id", *_PARTS, "embedding", *(["c_emb"] if residual else [])]
    return df.select(*cols).mapInArrow(
        encode, "vec_id long, group long, cell long, codes array<int>"
    )


def build_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_centroids: int | None = S.N_CENTROIDS,
    refine_iters: int = 0,
    residual: bool | str = "auto",
    train_fraction: float | None = None,
) -> None:
    """Encode the corpus once and land every staging table on disk.

    The IVF quantizer is stored as ONE group of the layout (module
    docstring): ``coarse/`` gets one row (cell 0's centroid), ``fine/``
    every cell under ``group=0``. Then one assignment pass + one PQ
    encode pass + one LSH banding pass over ``emb`` (this build alone
    writes ``lsh_buckets/`` and stamps the ``__lsh__`` flag), all with
    the vectorized numpy kernels over the metadata-sized quantizers.
    An input whose plan estimate fits one scan split
    (:func:`_collect_small`) is collected once and landed on the driver
    with pyarrow writes; a larger one runs as map-only Spark
    UDF passes whose only exchanges are the partitionBy writes. Either
    way a re-run overwrites every table it writes.

    ``n_centroids=None`` sizes the coarse quantizer with
    :func:`auto_n_centroids` (cells of about AUTO_CELL_ROWS vectors;
    the count is one job above the bound, free below it); the explicit
    default S.N_CENTROIDS keeps fixture corpora and registered-query
    artifacts deterministic.

    ``refine_iters > 0`` trains the quantizer with Lloyd's k-means
    (similarity.kmeans_centroids — the production refinement the
    ivf_cells docstring describes) before assignment; the artifact
    layout and every reader are unchanged, because readers derive
    probes from the STORED quantizer tables, whatever produced them.

    ``residual=True`` PQ-encodes each vector's RESIDUAL against its own
    IVF centroid instead of the raw vector (module comment above) —
    codebook = the first PQ_K vectors' residuals, the same
    deterministic-sample convention; the codebook table keeps its
    schema so `_load_codebook` is unchanged, and the manifest carries
    the flag so readers and appends dispatch the matching encode/LUT.
    The DEFAULT ``residual="auto"`` measures the intra-cell / global
    variance ratio on the assignment this build materializes anyway and
    picks the regime's winning encoding with no knob
    (:func:`_resolve_residual_auto` — clustered corpora get residual,
    uniform ones raw; the choice and ratio are stamped in the manifest).
    """
    _start_build(index_dir)
    local = _collect_small(spark, emb)
    if n_centroids is None:  # auto: constant cell volume
        n_centroids = auto_n_centroids(
            emb.count() if local is None else local.num_rows
        )
    if refine_iters > 0:
        # mini-batch k-means past fixture scale: train the quantizer on
        # a deterministic hash sample (plus the init prefix) — the
        # full-corpus assignment round is corpus x k rows through a
        # per-vector window, the same wall the 2-level refinement's
        # train_fraction documents
        train = _train_sample(emb, train_fraction, n_centroids)
        from pyspark.sql import Window

        # kmeans drops cells that lose every member (clustered corpora
        # with a biased init), leaving non-contiguous init-id labels —
        # relabel 0..n-1 (stable by original id). Readers never care:
        # they derive probes from the STORED tables, and cell ids are
        # opaque to every downstream consumer.
        cents = (
            S.kmeans_centroids(train, n_centroids, refine_iters + 1)
            .withColumn(
                "cell",
                (
                    F.row_number().over(Window.orderBy("cell")) - 1
                ).cast("int"),
            )
            .select(
                "cell", F.col("c_emb").cast("array<float>").alias("c_emb")
            )
            .toArrow()
        )
    else:
        head = _prefix(emb, local, n_centroids)
        cents = pa.table({"cell": head["vec_id"], "c_emb": head["embedding"]})
    cents = cents.sort_by("cell")
    cells = cents["cell"].to_numpy().astype("int64")
    c_mat = _matrix(cents["c_emb"])
    _write_coarse(index_dir, [0], c_mat[:1], pa.float32())
    _write_fine(
        index_dir, cells, np.zeros(len(cells), "int64"), c_mat, pa.float32()
    )
    M.write_meta(index_dir, _LSH_KEY, True)
    # assignment against the JUST-WRITTEN quantizer tables (with one
    # group, the nearest-cell kernel of similarity.ivf_cells; for
    # refine_iters=0 the matrix is identical, so so are the cells)
    _land(
        spark, index_dir, emb, local, _stored_assigner(spark, index_dir),
        residual, "overwrite",
    )


def _train_sample(
    emb: DataFrame, train_fraction: float | None, init_prefix: int
) -> DataFrame:
    """The k-means training rows: a deterministic hash sample of
    ``train_fraction`` of the corpus plus the vec_id < ``init_prefix``
    rows the initial centroids come from; the whole corpus for None."""
    if train_fraction is None:
        return emb
    return emb.filter(
        (
            F.pmod(F.abs(F.hash("vec_id")), F.lit(10_000))
            < F.lit(int(train_fraction * 10_000))
        )
        | (F.col("vec_id") < init_prefix)
    )


def _start_build(index_dir: str) -> None:
    """What every build does first: stamp the layout version, and orphan
    the flagged arms — the LSH bands until :func:`build_ann_index`
    writes them again; the SQ8, prefix and binary arms because their
    grids and thresholds were trained on the old corpus — so readers
    fail loudly until the arms are re-added."""
    M.write_meta(index_dir, _LAYOUT_KEY, LAYOUT_VERSION)
    M.write_meta(index_dir, _LSH_KEY, False)
    M.write_meta(index_dir, _SQ8_KEY, False)
    M.write_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, None)
    M.write_meta(index_dir, _BINARY_KEY, False)


@contextmanager
def _persisted(df: DataFrame):
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


# --------------------------------------------------------------------------
# Where a build or append runs: the driver landing below the bound, the
# Spark plan above it (module docstring, "Who writes each table").


def _plan_bytes(df: DataFrame) -> int:
    """Spark's size estimate of ``df``'s optimized plan, in bytes —
    computed without a job; for a parquet scan, its files' bytes (a
    filter does not lower it)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _collect_small(spark: SparkSession, df: DataFrame) -> pa.Table | None:
    """``df``'s (vec_id, embedding, sampled) rows, collected in one
    ``toArrow()`` job when :func:`_plan_bytes` is at most
    ``max_partition_bytes``; None above that bound. ``sampled`` is the
    residual="auto" diagnostic's sample predicate (:func:`_sampled`), so
    the driver measures the ratio on exactly the rows Spark samples."""
    if _plan_bytes(df) > max_partition_bytes(spark):
        return None
    return df.select("vec_id", "embedding", _sampled().alias("sampled")).toArrow()


def _prefix(emb: DataFrame, local: pa.Table | None, n: int) -> pa.Table:
    """(vec_id, embedding) of the rows with vec_id < ``n``, sorted by
    vec_id: from the collected input, or one small Spark collect."""
    if local is None:
        head = emb.filter(F.col("vec_id") < n).select("vec_id", "embedding")
        head = head.toArrow()
    else:
        head = local.filter(pc.less(local["vec_id"], n))
    return head.select(["vec_id", "embedding"]).sort_by("vec_id")


def _batches(spark: SparkSession, t: pa.Table):
    """(offset, slice, float64 embedding matrix) of ``t`` in slices of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows — one UDF
    batch, so the driver landing holds no more float64 rows at a time
    than a UDF does."""
    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    step = step if step > 0 else max(1, t.num_rows)
    for off in range(0, t.num_rows, step):
        sl = t.slice(off, step)
        yield off, sl, _matrix(sl["embedding"])


@functools.cache
def _openblas_threads():
    """(get, set) of the thread count of the OpenBLAS numpy loaded, or
    None where this process maps no OpenBLAS (another BLAS, or no
    ``/proc``)."""
    try:
        with open("/proc/self/maps") as fh:
            libs = sorted({ln.split()[-1] for ln in fh if "openblas" in ln})
    except OSError:
        return None
    for path in libs:
        lib = ctypes.CDLL(path)
        for suffix in ("64_", ""):
            get = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            put = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            if get is not None and put is not None:
                put.argtypes = [ctypes.c_int]
                return get, put
    return None


@contextmanager
def _one_blas_thread():
    """Run numpy's BLAS on one thread for the block, as PySpark runs it
    in UDF workers (OMP_NUM_THREADS = spark.task.cpus). Threaded
    OpenBLAS keeps its pool spinning after each call; on the driver that
    spin was charged to whatever ran next (about 0.1 CPU-s on the first
    search after a 1k-vector append, 4 vCPUs). The thread count does not
    change a product here: OpenBLAS splits the rows and columns over
    threads, never one dot product."""
    blas = _openblas_threads()
    if blas is None:
        yield
        return
    get, put = blas
    before = get()
    put(1)
    try:
        yield
    finally:
        put(before)


def _matrix(col) -> np.ndarray:
    """A list column of equal-length vectors as a float64 matrix."""
    flat = pc.list_flatten(col).to_numpy().astype(np.float64)
    return flat.reshape(len(col), -1) if len(col) else flat.reshape(0, S.DIM)


def _list_array(mat: np.ndarray, dtype: pa.DataType | None = None) -> pa.Array:
    """The rows of ``mat`` as an Arrow list column (Spark's array)."""
    n, width = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=dtype))


def _write_pa(
    index_dir: str,
    table: str,
    t: pa.Table,
    parts: tuple[str, ...] = (),
    overwrite: bool = False,
) -> None:
    """Land ``t`` as ``table`` with pyarrow, laid out as Spark's
    ``partitionBy`` writes it: one file per value of ``parts`` under
    ``col=value`` directories, the partition columns dropped from the
    files. Each file gets a fresh ``part-<uuid>.parquet`` name (the
    quantizer caches key on file names), is written hidden and then
    renamed into place; ``_SUCCESS`` comes last. ``overwrite`` first
    clears the table, as Spark's overwrite does."""
    root = M.table_path(index_dir, table)
    if overwrite:
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    if not parts:
        _write_file(root, t)
    elif t.num_rows:
        t = t.take(pc.sort_indices(t, [(p, "ascending") for p in parts]))
        keys = np.stack([t[p].to_numpy() for p in parts], axis=1)
        starts = np.flatnonzero(
            np.r_[True, (keys[1:] != keys[:-1]).any(axis=1)]
        )
        data = t.drop_columns(list(parts))
        for s, e in zip(starts, np.r_[starts[1:], len(keys)]):
            sub = os.path.join(
                root, *(f"{p}={v}" for p, v in zip(parts, keys[s]))
            )
            _write_file(sub, data.slice(s, e - s))
    open(os.path.join(root, "_SUCCESS"), "w").close()


def _write_file(directory: str, t: pa.Table) -> None:
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(t, tmp)
    os.replace(tmp, os.path.join(directory, name))


def _read_pa(index_dir: str, table: str, where=None) -> pa.Table:
    """A metadata-sized table read with pyarrow, with no Spark job:
    ``col=value`` directories become columns, files Spark skips (names
    starting with ``.`` or ``_``) are skipped."""
    return pads.dataset(
        M.table_path(index_dir, table), format="parquet", partitioning="hive"
    ).to_table(filter=where)


class _Assigner(NamedTuple):
    """A quantizer as the numpy kernel both landings run: ``nearest``
    maps float64 rows to their fine cell ids; ``cells`` (sorted) and
    ``c_mat`` (their FLOAT rows) feed the residual encoder and the
    variance diagnostic; ``cell_groups`` is each cell's group."""

    nearest: Callable[[np.ndarray], np.ndarray]
    cells: np.ndarray
    c_mat: np.ndarray
    cell_groups: np.ndarray

    def parts(self, x: np.ndarray) -> dict[str, np.ndarray]:
        """The partition columns of the rows ``x``."""
        cell = self.nearest(x).astype("int64")
        group = self.cell_groups[np.searchsorted(self.cells, cell)]
        return {"group": group, "cell": cell}

    def centroids_of(self, cell: np.ndarray) -> np.ndarray:
        """The FLOAT centroid row of each fine cell id in ``cell``."""
        return self.c_mat[np.searchsorted(self.cells, cell)]

    def centroids_df(self, spark: SparkSession, c_emb: bool) -> DataFrame:
        """The cells as a (group, cell) LocalRelation: the cell map the
        Spark assignment joins each row's group from; with ``c_emb``,
        also each cell's FLOAT row (array<double>), the centroid frame a
        residual landing joins each assigned row to."""
        cols = {
            "group": pa.array(self.cell_groups, pa.int64()),
            "cell": pa.array(self.cells, pa.int64()),
        }
        if c_emb:
            cols["c_emb"] = _list_array(self.c_mat)
        return spark.createDataFrame(
            pa.table(cols),
            "group long, cell long" + (", c_emb array<double>" if c_emb else ""),
        )


def _stored_assigner(spark: SparkSession, index_dir: str) -> _Assigner:
    """The STORED quantizer at ``index_dir``: the composed assignment
    (:func:`_assigner_2level`) against ``coarse/`` and ``fine/``."""
    groups, g_mat = _read_coarse(spark, index_dir)
    fine = _read_pa(index_dir, "fine").sort_by("cell")
    return _assigner_2level(
        groups,
        g_mat,
        fine["cell"].to_numpy().astype("int64"),
        fine["group"].to_numpy().astype("int64"),
        _matrix(fine["c_emb"]),
    )


def _cells_udf(nearest: Callable[[np.ndarray], np.ndarray]):
    """``nearest`` over the ``embedding`` column, one Arrow batch at a
    time."""

    @F.pandas_udf(T.LongType())
    def cells(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(nearest(_stack(col)).astype("int64"))

    return cells


def _assign_local(
    spark: SparkSession, t: pa.Table, a: _Assigner
) -> dict[str, np.ndarray]:
    """The collected rows ``t`` assigned by ``a``: each partition column
    as one array aligned with ``t``."""
    chunks = [a.parts(x) for _, _, x in _batches(spark, t)]
    return {
        c: np.concatenate([ch[c] for ch in chunks] or [np.empty(0, "int64")])
        for c in _PARTS
    }


def _local_variance_ratio(
    spark: SparkSession, t: pa.Table, cells: np.ndarray, a: _Assigner
) -> float:
    """:func:`_assignment_variance_ratio` on the driver: the same
    partials, over the rows the ``sampled`` column marks, one UDF batch
    at a time."""
    partials = []
    for off, sl, x in _batches(spark, t):
        m = sl["sampled"].to_numpy()
        if m.any():
            c = a.centroids_of(cells[off : off + len(x)][m])
            partials.append(_partial(x[m], c))
    return _ratio_from_partials(partials)


def _land(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    local: pa.Table | None,
    a: _Assigner,
    residual: bool | str,
    mode: str,
) -> None:
    """Assign ``emb`` by ``a`` and land every corpus table: on the driver
    when ``local`` holds the collected input (:func:`_land_local`), else
    as a map-only Spark pass whose rows :func:`_land_corpus` lands. A
    build (``mode="overwrite"``) first resolves ``residual`` on the
    assignment (``"auto"`` measures the intra-cell / global variance
    ratio); an append passes the stored flag."""
    if local is not None:
        with _one_blas_thread():
            parts = _assign_local(spark, local, a)
            if mode == "overwrite":
                residual = _resolve_residual_auto(
                    index_dir,
                    residual,
                    lambda: _local_variance_ratio(
                        spark, local, parts["cell"], a
                    ),
                )
            _land_local(
                spark, index_dir, local, parts, mode, a if residual else None
            )
        return
    cell = _cells_udf(a.nearest)(F.col("embedding"))
    # the cell's group joins back from the metadata-sized cell map
    assigned = (
        emb.select("vec_id", "embedding", cell.alias("cell"))
        .join(F.broadcast(a.centroids_df(spark, False)), "cell")
        .select("vec_id", "embedding", *_PARTS)
    )
    # only a residual (or "auto") landing reads centroid rows; they are
    # broadcast, as the assignment closure already carries them, so the
    # encode stays map-only whatever size Spark estimates for the frame
    cents = F.broadcast(a.centroids_df(spark, True)) if residual else None
    with _persisted(assigned) as assigned:
        if mode == "overwrite":
            residual = _resolve_residual_auto(
                index_dir,
                residual,
                lambda: _assignment_variance_ratio(assigned, cents),
            )
        _land_corpus(spark, index_dir, assigned, cents, residual, mode)


def _land_corpus(
    spark: SparkSession,
    index_dir: str,
    assigned: DataFrame,
    cents: DataFrame | None,
    residual: bool,
    mode: str,
    codes: DataFrame | None = None,
) -> None:
    """Write the assigned rows (vec_id, embedding, group, cell) —
    persisted by the caller: every table reads them — into each corpus
    table :func:`_table_map` lists for the index at ``index_dir``.
    ``mode="overwrite"`` is a build: the PQ ``codebook/`` lands first,
    from the rows with vec_id < PQ_K (the deterministic-sample
    convention); ``mode="append"`` encodes against the STORED codebook
    and grids (immutable quantizers keep old and new codes comparable
    under one LUT), and nothing existing is rewritten.

    - ``vectors/``: packed PQ codes, encoded map-only on the assigned
      rows (a codes-by-id join would shuffle corpus-sized tables; fused,
      the only exchange is the partitionBy write). On a residual index
      each row joins its own centroid from ``cents`` — the broadcast
      (group, cell, c_emb) LocalRelation :func:`_land` builds — and its
      RESIDUAL is encoded instead (the FAISS IndexIVFPQ composition),
      against a codebook of residuals. Given ``codes`` (vec_id, group,
      cell, codes), the caller encoded the rows and wrote the codebook
      itself (the cogroup of :func:`build_ann_index_2level_distributed`),
      and ``raw/`` is the only table that reads ``assigned``.
    - ``raw/``: the embeddings.
    - ``sq8/`` (and ``sq8_prefix/``), ``binary/``: when the arm is
      present, encoded against its stored grid or thresholds, with the
      drift counters accumulated by one O(new) aggregate. A build finds
      none: :func:`_start_build` orphaned them.
    - ``lsh_buckets/``: the hyperplane bands, when flagged."""
    tables = _table_map(index_dir)

    def write(df: DataFrame, table: str) -> None:
        (
            df.repartition(*tables[table])
            .write.mode(mode)
            .partitionBy(*tables[table])
            .parquet(M.table_path(index_dir, table))
        )

    if codes is None:
        encoded = assigned.join(cents, list(_PARTS)) if residual else assigned
        if mode == "overwrite":
            _write_codebook_of(index_dir, encoded)
        codes = _pq_codes(encoded, _load_codebook(spark, index_dir), residual)
    write(codes.select("vec_id", *_PARTS, "codes"), "vectors")
    write(assigned.select("vec_id", "embedding", *_PARTS), "raw")
    if "sq8" in tables:
        vmin, scale = _read_sq_stats(spark, index_dir)
        sq8_new = assigned.select(
            "vec_id",
            *_PARTS,
            _sq8_encode_udf(vmin, scale)(F.col("embedding")).alias("codes"),
        )
        write(sq8_new, "sq8")
        _accumulate_sq8_counters(index_dir, lambda: _sq8_code_aggregate(sq8_new))
        if "sq8_prefix" in tables:
            pdims = int(M.read_meta(index_dir, _SQ8_PREFIX_DIMS_KEY))
            write(
                sq8_new.select(
                    "vec_id", *_PARTS, F.slice("codes", 1, pdims).alias("codes")
                ),
                "sq8_prefix",
            )
    if "binary" in tables:
        thresh = _read_bin_thresh(spark, index_dir)
        bin_new = assigned.select(
            "vec_id",
            *_PARTS,
            _binary_encode_udf(thresh)(F.col("embedding")).alias("words"),
        )
        write(bin_new, "binary")
        _accumulate_binary_counters(
            index_dir, lambda: _binary_ones_aggregate(bin_new)
        )
    if "lsh_buckets" in tables:
        write(
            S.lsh_buckets_long(assigned.select("vec_id", "embedding")).select(
                "vec_id", "bucket", "table_id"
            ),
            "lsh_buckets",
        )


def _land_local(
    spark: SparkSession,
    index_dir: str,
    t: pa.Table,
    parts: dict[str, np.ndarray],
    mode: str,
    a: _Assigner | None,
) -> None:
    """:func:`_land_corpus` on the driver, for the collected rows ``t``
    assigned to ``parts``: the same tables from the same numpy kernels,
    encoded one UDF batch at a time and written with :func:`_write_pa`
    (a build clears each table first); the drift counters are counted on
    the same codes. A residual index passes its assigner ``a``, whose
    ``c_mat`` gives each row its own centroid; a raw one passes None."""
    tables = _table_map(index_dir)
    ids = t["vec_id"].to_numpy()
    if mode == "overwrite":
        head = np.flatnonzero(ids < S.PQ_K)
        _write_codebook(
            index_dir,
            ids[head],
            _matrix(t["embedding"].take(head)),
            None if a is None else a.centroids_of(parts["cell"][head]),
        )
    ic = _load_codebook(spark, index_dir)
    if "sq8" in tables:
        vmin, scale = _read_sq_stats(spark, index_dir)
        pdims = M.read_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, None)
    if "binary" in tables:
        thresh = _read_bin_thresh(spark, index_dir)
    out = {name: [] for name in _CORPUS_TABLES if name in tables}
    sq8_counts, ones = np.zeros(3, dtype=np.int64), 0
    for off, sl, x in _batches(spark, t):
        p = {c: v[off : off + len(x)] for c, v in parts.items()}

        def rows(**cols) -> pa.Table:
            return pa.table({"vec_id": sl["vec_id"], **cols, **p})

        c = None if a is None else _int_centroids(a.centroids_of(p["cell"]))
        codes = _pq_encode(x, ic, c)
        out["vectors"].append(rows(codes=_list_array(codes)))
        out["raw"].append(rows(embedding=sl["embedding"]))
        if "sq8" in out:
            c8 = _sq8_encode_np(x, vmin, scale).astype(np.int32)
            out["sq8"].append(rows(codes=_list_array(c8)))
            sq8_counts += (((c8 < 0) | (c8 > 255)).sum(), c8.size, len(c8))
            if "sq8_prefix" in out:
                out["sq8_prefix"].append(
                    rows(codes=_list_array(c8[:, : int(pdims)]))
                )
        if "binary" in out:
            words = _pack_bits(x > thresh[None, :])
            out["binary"].append(rows(words=_list_array(words)))
            ones += int(np.unpackbits(words.view(np.uint8)).sum())
        if "lsh_buckets" in out:
            b = S.lsh_bucket_strings(x)
            out["lsh_buckets"].append(
                pa.table(
                    {
                        "vec_id": np.repeat(ids[off : off + len(x)], S.N_TABLES),
                        "bucket": pa.array(b.ravel(), pa.string()),
                        "table_id": np.tile(
                            np.arange(S.N_TABLES, dtype=np.int32), len(x)
                        ),
                    }
                )
            )
    for table, chunks in out.items():
        if chunks:
            _write_pa(
                index_dir, table, pa.concat_tables(chunks), tables[table],
                overwrite=mode == "overwrite",
            )
    if "sq8" in out:
        _accumulate_sq8_counters(index_dir, lambda: tuple(sq8_counts))
    if "binary" in out:
        _accumulate_binary_counters(index_dir, lambda: (ones, len(ids)))


# The corpus tables a landing writes, where :func:`_table_map` lists them.
_CORPUS_TABLES = ("vectors", "raw", "sq8", "sq8_prefix", "binary", "lsh_buckets")


def _write_codebook(
    index_dir: str, ids: np.ndarray, x: np.ndarray, c: np.ndarray | None
) -> None:
    """Land the PQ codebook (subspace, dim, cell, ic) from the rows with
    vec_id < PQ_K (``ids`` and their float64 rows ``x``): their integer
    components at cell = vec_id; or — given ``c``, each row's own FLOAT
    centroid — their residuals against its integer components, at
    positional cells 0..k-1 in vec_id order (which coincides with the
    vec_ids on a dense prefix, as the SQL twins assume)."""
    order = np.argsort(ids, kind="stable")
    iv = S._half_up(x[order] * S.PQ_INT_SCALE)
    cell = ids[order]
    if c is not None:
        width = S.PQ_M * S.PQ_SUB
        iv = iv[:, :width] - _int_centroids(c[order, :width])
        cell = np.arange(len(iv))
    n, width = iv.shape
    comp = np.arange(width)
    _write_pa(
        index_dir,
        "codebook",
        pa.table(
            {
                "subspace": pa.array(np.tile(comp // S.PQ_SUB, n), pa.int32()),
                "dim": pa.array(np.tile(comp % S.PQ_SUB, n), pa.int32()),
                "cell": pa.array(np.repeat(cell, width), pa.int32()),
                "ic": pa.array(iv.ravel(), pa.int64()),
            }
        ),
        overwrite=True,
    )


def _write_codebook_of(index_dir: str, rows: DataFrame) -> None:
    """:func:`_write_codebook` from the Spark rows with vec_id < PQ_K
    (vec_id, embedding; and ``c_emb``, each row's own centroid, on a
    residual index)."""
    head = rows.filter(F.col("vec_id") < S.PQ_K).toArrow()
    _write_codebook(
        index_dir,
        head["vec_id"].to_numpy(),
        _matrix(head["embedding"]),
        _matrix(head["c_emb"]) if "c_emb" in head.column_names else None,
    )


def append_to_ann_index(
    spark: SparkSession, emb_new: DataFrame, index_dir: str
) -> None:
    """Incremental index maintenance — the corpus grows, the index never
    rebuilds. New vectors are assigned and encoded against the STORED
    quantizers (coarse/fine tables, PQ codebook, derived-arm grids are
    immutable once built: the IVF-PQ invariant that makes append O(new),
    and what keeps old and new codes comparable under one ADC LUT), then
    their rows APPEND into the partitioned tables — existing partitions'
    files are never rewritten. New vectors that fit one scan split land
    on the driver (:func:`_collect_small`), larger batches through Spark.
    A residual index (the manifest flag) encodes residuals against the
    stored cells. Equivalence with a from-scratch build over the union
    corpus is pinned by tests/test_ann_index.py (same quantizers ⇒
    identical assignments, codes, bands, and search results)."""
    _check_layout(index_dir)
    a = _stored_assigner(spark, index_dir)
    _land(
        spark, index_dir, emb_new, _collect_small(spark, emb_new), a,
        M.read_meta(index_dir, _RESIDUAL_KEY, False), "append",
    )


def delete_from_ann_index(spark: SparkSession, vec_ids, index_dir: str) -> None:
    """Logical delete — the third lifecycle verb (build / append / delete).

    Deleted ids land in a ``tombstones/`` side table (append-only
    parquet; a DataFrame writes distributed, a Python iterable becomes a
    driver-sized single file). Nothing in the partitioned tables is
    rewritten: every reader anti-joins its scan against the tombstones
    (broadcast — the set is metadata-sized BETWEEN compactions, which is
    the operational contract: bulk deletes should be followed by
    :func:`compact_ann_index`, which applies tombstones physically
    during its partition rewrite and then clears them). The quantizers
    are untouched — they derive from the build-time corpus and stay
    valid for the survivors, exactly as with append."""
    M.write_tombstones(spark, vec_ids, index_dir, "vec_id")


def _live(spark: SparkSession, index_dir: str, df: DataFrame) -> DataFrame:
    """Filter a scan of an artifact table down to non-deleted rows —
    broadcast anti-join against the (metadata-sized) tombstones; a
    no-op plan when no tombstones exist."""
    return M.live(spark, index_dir, df, "vec_id")


# --------------------------------------------------------------------------
# Driver-side query terms (tiny, exact twins of the distributed formulas).


def _rounded_cosines(q: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """round(cos, 6) against each row of ``mat`` — the cosine_batch
    convention, so probe selection ties break identically."""
    dots = mat @ q
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * np.sqrt(q @ q)
    return np.round(dots / norms, 6)


# The quantizer tables (coarse/fine, PQ codebook, SQ8 grid, binary
# thresholds) are metadata-sized — every real ANN
# service pins them in memory. They are cached per process through
# M.cached_table, keyed on the files they were read from, so repeated
# searches pay each tiny collect job once and a table rewritten by any
# process is read again.


def _load_codebook(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Stored integer codebook as ``ic[subspace][cell][dim]``."""

    def load():
        cb = _read_pa(index_dir, "codebook")
        sub, cell, dim = (cb[c].to_numpy() for c in ("subspace", "cell", "dim"))
        ic = np.zeros((sub.max() + 1, cell.max() + 1, dim.max() + 1), np.int64)
        ic[sub, cell, dim] = cb["ic"].to_numpy()
        return ic

    return M.cached_table(index_dir, "codebook", load)


def _adc_lut(ic: np.ndarray, iq: np.ndarray) -> np.ndarray:
    """Exact integer squared distance of each integer query row in
    ``iq`` to every PQ centroid — pq_distances in the local domain —
    flattened to one ``n_sub * n_cells`` int64 row per query
    (``lut[i, s * n_cells + code]``), so ADC scoring is a sum of
    PQ_M lookups per vector: a map-side array aggregate in Spark
    (:func:`_adc_dist_col`), fancy indexing on the driver."""
    n_sub, n_cells, sub_dim = ic.shape
    q = iq[:, : n_sub * sub_dim].reshape(len(iq), n_sub, 1, sub_dim)
    return ((ic[None] - q) ** 2).sum(axis=3).reshape(len(iq), n_sub * n_cells)


def _search_luts(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
) -> tuple[np.ndarray, bool]:
    """The search's ADC lookup tables and the index's residual flag.
    Standard index: one row per query, in query order. Residual index
    (the manifest flag): the query's residual DEPENDS ON THE PROBED
    CELL (r = q - c), so one row per probe, in probe order, against the
    residual codebook, less the probed cells' integer centroids."""
    ic = _load_codebook(spark, index_dir)
    width = ic.shape[0] * ic.shape[2]
    # HALF_UP, not np.round: every other PQ quantization path
    # (pq_long_form's F.round, pq_encode_udf's _half_up) rounds half
    # away from zero; banker's rounding here would flip any query
    # component landing exactly on .5 and silently break the
    # bit-identical parity with the in-session ivfpq_topk twin.
    iq = S._half_up(
        np.array(
            [np.asarray(v, dtype=np.float64)[:width] for _, v in queries],
            dtype=np.float64,
        ).reshape(-1, width)
        * S.PQ_INT_SCALE
    )
    residual = bool(M.read_meta(index_dir, _RESIDUAL_KEY, False))
    if residual:
        row_of = {q_id: i for i, (q_id, _) in enumerate(queries)}
        iq = iq[[row_of[p[0]] for p in probes]]
        if probes:
            iq = iq - _probed_int_centroids(spark, index_dir, probes)[:, :width]
    return _adc_lut(ic, iq), residual


def _adc_dist_col(n_cells: int = S.PQ_K):
    """Sum of the per-subspace LUT entries selected by the packed codes
    array — exact int64 arithmetic, whole-stage-codegen higher-order
    function (Spark array subscripts are 0-based). ``n_cells`` is the
    LUT's packing stride and MUST be the stored codebook's actual
    per-subspace cell count (``ic.shape[1]`` — what _adc_lut packs
    with): a corpus without a full vec_id 0..PQ_K-1 prefix stores fewer
    than PQ_K cells, and indexing with the nominal PQ_K would silently
    misalign every subspace past the first."""
    return F.expr(
        f"aggregate(sequence(0, {S.PQ_M - 1}), 0L,"
        f" (acc, s) -> acc + d_flat[s * {n_cells} + codes[s]])"
    )


def _probe_predicate(probes: list[tuple]):
    """Partition filter for probe rows ``(q_id, group, cell)``: each
    partition column IN its probed values (what reaches the scan as
    PartitionFilters)."""
    group, cell = (sorted({p[i] for p in probes}) for i in (1, 2))
    return F.col("group").isin(group) & F.col("cell").isin(cell)


def _scan(
    spark: SparkSession, index_dir: str, table: str, probes: list[tuple]
) -> DataFrame:
    """``table`` read with only the probed partitions."""
    return spark.read.parquet(M.table_path(index_dir, table)).where(
        _probe_predicate(probes)
    )


def _queries_df(spark: SparkSession, queries: list[Query]) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), [float(x) for x in vec]) for q, vec in queries],
        T.StructType(
            [
                T.StructField("q_id", T.LongType()),
                T.StructField("q_emb", T.ArrayType(T.FloatType())),
            ]
        ),
    )


# The probe-row schema: q_id, then the partition columns (_PARTS).
_PROBES = T.StructType(
    [
        T.StructField("q_id", T.LongType()),
        T.StructField("group", T.LongType()),
        T.StructField("cell", T.LongType()),
    ]
)
# The Spark plan's output schema (``rank`` is a row_number: non-null).
_ADC_TOPK = pa.schema(
    [
        ("q_id", pa.int64()),
        ("vec_id", pa.int64()),
        ("adc_dist", pa.int64()),
        pa.field("rank", pa.int32(), nullable=False),
    ]
)


def _local_df(
    spark: SparkSession,
    rows: list[tuple],
    schema: T.StructType,
    lut: np.ndarray | None = None,
) -> DataFrame:
    """``rows`` (plus ``lut`` as a ``d_flat array<long>`` column) as a
    LocalRelation: built from an Arrow table, so broadcasting it starts
    no Spark job (a Python list would become a LogicalRDD: a job and a
    Python worker)."""
    cols = {
        f.name: pa.array([r[i] for r in rows], type=to_arrow_type(f.dataType))
        for i, f in enumerate(schema.fields)
    }
    fields = list(schema.fields)
    if lut is not None:
        cols["d_flat"] = _list_array(lut)
        fields.append(T.StructField("d_flat", T.ArrayType(T.LongType())))
    return spark.createDataFrame(pa.table(cols), T.StructType(fields))


def _spark_adc_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
    lut: np.ndarray,
    residual: bool,
    k: int,
) -> DataFrame:
    """IVF-PQ scoring as a Spark plan over the probe rows ``(q_id,
    group, cell)``: a scan of ``vectors/`` pruned to the probed
    partitions, broadcast probe and LUT joins (the LUT keyed on q_id, or
    on the whole probe row for a residual index), the map-side ADC sum,
    and a per-query top-k by (adc_dist, vec_id)."""
    lut_schema = _PROBES if residual else T.StructType(_PROBES.fields[:1])
    lut_keys = probes if residual else [(q_id,) for q_id, _ in queries]
    lut_df = _local_df(spark, lut_keys, lut_schema, lut)
    vectors = _live(spark, index_dir, _scan(spark, index_dir, "vectors", probes))
    scored = (
        vectors.join(F.broadcast(_local_df(spark, probes, _PROBES)), list(_PARTS))
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(lut_df), lut_schema.names)
        .select("q_id", "vec_id", _adc_dist_col(
            _load_codebook(spark, index_dir).shape[1]
        ).alias("adc_dist"))
    )
    return S.topk_per_key(
        scored, "q_id", [F.col("adc_dist"), F.col("vec_id")], k
    )


def _probed_files(
    index_dir: str, probes: list[tuple]
) -> dict[tuple, list[tuple[str, int]]]:
    """(path, bytes) of every data file in each probed ``vectors/``
    partition, listed as Spark lists them: names starting with ``.`` or
    ``_`` (checksums, markers) are hidden; a partition with no
    directory has no files."""
    root = M.table_path(index_dir, "vectors")
    out = {}
    for part in {p[1:] for p in probes}:
        d = os.path.join(root, *(f"{c}={v}" for c, v in zip(_PARTS, part)))
        if not os.path.isdir(d):
            out[part] = []
            continue
        with os.scandir(d) as entries:
            out[part] = sorted(
                (e.path, e.stat().st_size)
                for e in entries
                if e.is_file() and not e.name.startswith((".", "_"))
            )
    return out


def _driver_adc_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
    files: dict[tuple, list[tuple[str, int]]],
    lut: np.ndarray,
    residual: bool,
    k: int,
) -> DataFrame:
    """:func:`_spark_adc_topk`'s rows, computed on the driver: read each
    probed partition's ``(vec_id, codes)`` with pyarrow, drop tombstoned
    ids and the query's own id, sum the same integer LUT entries and keep
    each query's top-k by (adc_dist, vec_id). Each (query, partition)
    pair keeps only its candidates within its own k-th smallest distance
    (ties included), so memory stays O(k) per pair and the final order
    is exact. The result is a LocalRelation, so collecting it starts no
    Spark job."""
    tomb = M._tombstone_files(index_dir)
    dead = (
        pq.read_table(tomb, columns=["vec_id"])["vec_id"].to_numpy() if tomb else []
    )
    codes = {}
    for part, listed in files.items():
        if not listed:
            continue
        t = pq.read_table([path for path, _ in listed], columns=["vec_id", "codes"])
        ids = t["vec_id"].to_numpy()
        c = pc.list_flatten(t["codes"]).to_numpy().reshape(-1, S.PQ_M)
        keep = ~np.isin(ids, dead)
        codes[part] = (ids[keep], c[keep].T.copy())
    luts = lut.reshape(len(lut), S.PQ_M, -1)
    row_of = {q_id: i for i, (q_id, _) in enumerate(queries)}
    scored: dict[int, list] = {}
    for i, (q_id, *part) in enumerate(probes):
        if tuple(part) not in codes:
            continue
        ids, c = codes[tuple(part)]
        sub = luts[i if residual else row_of[q_id]]
        dist = sub[0][c[0]]
        for s in range(1, S.PQ_M):
            dist += sub[s][c[s]]
        keep = ids != q_id
        if keep.sum() > k:
            keep &= dist <= np.partition(dist[keep], k - 1)[k - 1]
        scored.setdefault(q_id, []).append((ids[keep], dist[keep]))
    out = {name: [] for name in _ADC_TOPK.names}
    for q_id, hits in scored.items():
        ids = np.concatenate([h[0] for h in hits])
        dist = np.concatenate([h[1] for h in hits])
        top = np.lexsort((ids, dist))[:k]
        out["q_id"].append(np.full(len(top), q_id, dtype=np.int64))
        out["vec_id"].append(ids[top])
        out["adc_dist"].append(dist[top])
        out["rank"].append(np.arange(1, len(top) + 1, dtype=np.int32))
    table = pa.table(
        {
            name: np.concatenate(cols) if cols else np.empty(0)
            for name, cols in out.items()
        }
    )
    return spark.createDataFrame(table.cast(_ADC_TOPK))


def _ivfpq_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
    k: int,
) -> DataFrame:
    """IVF-PQ top-k over the probe rows. A search whose
    probed partitions' data-file bytes, summed over the (query,
    partition) pairs, are at most ``spark.sql.files.maxPartitionBytes``
    is scored on the driver with no Spark job; a larger one runs the
    Spark plan. The bound sits below the measured crossover:
    ``tools/ivfpq_serving_rehearsal.py`` on 2M-vector indexes (one and
    16 groups) and 4 cores timed the driver tail faster than the Spark
    tail at every probed size from 0.5 MB to 178 MB, by 7-29x in wall
    time, although Spark scans inputs past a few MB with parallel
    tasks."""
    lut, residual = _search_luts(spark, index_dir, queries, probes)
    files = _probed_files(index_dir, probes)
    probed_bytes = sum(b for p in probes for _, b in files[p[1:]])
    if probed_bytes <= max_partition_bytes(spark):
        return _driver_adc_topk(
            spark, index_dir, queries, probes, files, lut, residual, k
        )
    return _spark_adc_topk(spark, index_dir, queries, probes, lut, residual, k)


def _probes(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    n_probe: int = S.N_PROBE,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> list[tuple[int, int, int]]:
    """The probe step every search arm shares: (q_id, group, cell) probe
    triples. Coarse-probe the groups (driver, n_groups cosines per
    query), fetch ONLY the probed groups' fine-centroid shards
    (partition-pruned ``fine/`` read), then keep each query's ``n_probe``
    cells of its ``n_probe_groups`` groups by (rounded sim desc, cell
    asc) — n_groups + n_probe_groups*(n_cells/n_groups) cosines per
    query, never n_cells."""
    groups, g_mat = _read_coarse(spark, index_dir)
    q_groups: dict[int, list[int]] = {}
    for q_id, vec in queries:
        sims = _rounded_cosines(np.asarray(vec, dtype=np.float64), g_mat)
        ranked = sorted(zip(groups, sims), key=lambda gs: (-gs[1], gs[0]))
        q_groups[q_id] = [g for g, _ in ranked[:n_probe_groups]]
    probed_groups = sorted({g for gs in q_groups.values() for g in gs})

    by_group = _fine_shards(spark, index_dir, probed_groups)
    probes = []  # (q_id, group, cell)
    for q_id, vec in queries:
        cand = [
            (g, c, emb)
            for g in q_groups[q_id]
            for c, emb in by_group.get(g, [])
        ]
        if not cand:
            continue
        mat = np.array([emb for _, _, emb in cand], dtype=np.float64)
        sims = _rounded_cosines(np.asarray(vec, dtype=np.float64), mat)
        ranked = sorted(
            zip((g for g, _, _ in cand), (c for _, c, _ in cand), sims),
            key=lambda gcs: (-gcs[2], gcs[1]),
        )
        probes.extend((q_id, g, c) for g, c, _ in ranked[:n_probe])
    return probes


def _probed_int_centroids(
    spark: SparkSession, index_dir: str, probes: list[tuple]
) -> np.ndarray:
    """The integer centroid of each probe row's cell (the residual
    LUT's input), from the probed groups' cached fine shards."""
    shards = _fine_shards(spark, index_dir, sorted({g for _, g, _ in probes}))
    emb = {c: e for shard in shards.values() for c, e in shard}
    return _int_centroids(np.array([emb[c] for _, _, c in probes]))


def _with_field(schema: T.StructType, name: str, dtype) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField(name, dtype)])


def _exact_rerank(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
    short: DataFrame,
    k: int,
) -> DataFrame:
    """The exact tail of the shortlist arms: the shortlist's (q_id,
    vec_id) rows fetch their raw embeddings (a broadcast semi-join onto
    the probed raw partitions), score the rounded full-dimension cosine
    and keep each query's top-k (q_id, vec_id, sim, rank). The shortlist
    is bounded (≤ queries × shortlist rows), so a JVM cosine and a
    single-window top-k serve it with no Arrow boundary."""
    reranked = (
        _scan(spark, index_dir, "raw", probes)
        .join(F.broadcast(short), "vec_id")
        .join(F.broadcast(_queries_df(spark, queries)), "q_id")
        .select(
            "q_id",
            "vec_id",
            S.cosine_rounded(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return S.topk_bounded(
        reranked, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


def ann_index_ivfpq_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """IVF-PQ search from the artifact: the probed cells' PQ codes, the
    integer ADC LUT, integer ranking — the same output contract as
    similarity.ivfpq_topk (q_id, vec_id, adc_dist, rank), with zero
    corpus access. Residual indexes (the manifest flag) swap in the
    per-(query, probed cell) residual LUT. Small searches are scored on
    the driver, larger ones by a partition-pruned Spark scan
    (:func:`_ivfpq_topk`). The codes are the only per-vector bytes
    read, ~100x less probed IO than raw floats. ``n_probe_groups`` is
    the number of coarse groups probed (:func:`_probes`), in every arm;
    a one-group index probes its group whatever the value."""
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    return _ivfpq_topk(spark, index_dir, queries, probes, k)


# Two-stage search: ADC shortlist + exact rerank — the standard
# production composition (a PQ scan alone trades recall for IO; the
# rerank buys exactness back for shortlist x 256 B of targeted raw
# reads): probe -> integer-ADC-score the probed cells' CODES -> keep the
# top `shortlist` per query -> fetch ONLY those vectors' raw embeddings
# (broadcast semijoin against the already-pruned raw partitions) ->
# exact rounded cosine -> top-k. With shortlist >= the probed
# population the result equals the IVF-Flat reader exactly
# (test-pinned), which is the semantics anchor.


def ann_index_ivfpq_rerank_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    shortlist: int | None = None,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """ADC-shortlist + exact-rerank over the artifact: scan codes for
    the probed cells (partition-pruned, 2 bytes/vector), rank by the
    broadcast integer LUT, keep ``shortlist`` candidates per query
    (ties to lower vec_id — the ivfpq contract), then exact cosine ONLY
    on those candidates' raw rows. At billion-vector scale over many
    groups this is THE search. Output contract matches
    ann_index_ivf_topk: (q_id, vec_id, sim, rank)."""
    shortlist = 4 * k if shortlist is None else shortlist
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    lut, residual = _search_luts(spark, index_dir, queries, probes)
    short = _spark_adc_topk(
        spark, index_dir, queries, probes, lut, residual, shortlist
    ).select("q_id", "vec_id")
    return _exact_rerank(spark, index_dir, queries, probes, short, k)


def ann_index_ivf_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """IVF-Flat search from the artifact: exact cosine inside the probed
    cells' raw partitions only (same output contract as
    similarity.ivf_topk: q_id, vec_id, sim, rank)."""
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    raw = _live(spark, index_dir, _scan(spark, index_dir, "raw", probes))
    scored = (
        raw.join(F.broadcast(_local_df(spark, probes, _PROBES)), list(_PARTS))
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(_queries_df(spark, queries)), "q_id")
        .select(
            "q_id",
            "vec_id",
            S.cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return S.topk_per_key(
        scored, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


def _nonzero_prefix_queries(
    queries: list[Query], dims: int
) -> list[Query]:
    """Drop queries whose leading ``dims`` components are all zero —
    the driver-side half of the truncated readers' NaN guard (a
    zero-prefix query's truncated cosine is 0/0 against every
    candidate, so its whole shortlist would be NaN)."""
    return [(q, v) for q, v in queries if any(x != 0.0 for x in v[:dims])]


def _nonzero_prefix_col(dims: int):
    """Candidate-side zero-prefix guard on the ``embedding`` column —
    same predicate the SQL twins express with ``list_filter`` over
    ``list_slice``."""
    return F.exists(
        F.slice("embedding", 1, dims), lambda x: x != F.lit(0.0)
    )


def ann_index_truncated_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    dims: int = S.MRL_DIMS,
    shortlist: int = S.MRL_SHORTLIST,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """Adaptive retrieval over the artifact — BOTH pruning axes composed
    at the reader with no new index state: the IVF probe prunes WHICH
    raw partitions are read (rows touched ∝ probed cells), and the
    matryoshka truncation prunes HOW MUCH of each row is scored (the
    shortlist cosine runs on the leading ``dims`` of DIM components,
    dims/DIM of the FLOPs and Arrow bytes). The exact rerank then
    re-scores only ≤ queries × shortlist survivors at full dimension —
    a broadcast point-lookup semi-join against the same probed
    partitions, not a second corpus pass. Output contract matches
    ann_index_ivf_topk (q_id, vec_id, sim, rank) with ``sim`` the exact
    full-dimension cosine, so shortlist ≥ probed volume reproduces
    IVF-Flat bit-for-bit (pinned in tests).

    Zero-prefix rows (all-zero leading ``dims``) are dropped from the
    shortlist stage on both sides — queries driver-side, candidates
    with the same ``exists`` guard as similarity.truncated_topk — so a
    0/0 = NaN truncated cosine (which Spark sorts above every real
    similarity) can never pollute the shortlist."""
    queries = _nonzero_prefix_queries(queries, dims)
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    q_sliced = _queries_df(spark, queries).select(
        "q_id", F.slice("q_emb", 1, dims).alias("q_emb")
    )
    raw = _live(spark, index_dir, _scan(spark, index_dir, "raw", probes))
    tscored = (
        raw.join(F.broadcast(_local_df(spark, probes, _PROBES)), list(_PARTS))
        .filter(F.col("vec_id") != F.col("q_id"))
        .filter(_nonzero_prefix_col(dims))
        .join(F.broadcast(q_sliced), "q_id")
        .select(
            "q_id",
            "vec_id",
            S.cosine_batch(
                F.col("q_emb"), F.slice("embedding", 1, dims)
            ).alias("tsim"),
        )
    )
    short = S.topk_per_key(
        tscored, "q_id", [F.col("tsim").desc(), F.col("vec_id")], shortlist
    ).select("q_id", "vec_id")
    return _exact_rerank(spark, index_dir, queries, probes, short, k)


# The LSH arm: ``lsh_buckets/`` holds S.N_TABLES bands of S.N_PLANES
# hyperplanes per vector. build_ann_index writes it and stamps the flag;
# appends maintain it off the flag, like the derived arms.
_LSH_KEY = "__lsh__"


def _query_buckets(queries: list[Query]) -> list[tuple[int, int, str]]:
    """(q_id, table_id, bucket) — the query's band signatures, computed
    locally with the lsh_buckets_long kernel
    (:func:`similarity.lsh_bucket_strings`)."""
    x = np.array([v for _, v in queries], dtype=np.float64)
    b = S.lsh_bucket_strings(x.reshape(len(queries), S.DIM))
    return [
        (q_id, t, b[i, t])
        for i, (q_id, _) in enumerate(queries)
        for t in range(S.N_TABLES)
    ]


def ann_index_lsh_topk(
    spark: SparkSession, index_dir: str, queries: list[Query], k: int = 5
) -> DataFrame:
    """LSH search from the artifact: candidates collide with the query's
    band signature in ANY stored table (partition-pruned to the query's
    (table_id, bucket) pairs), exact cosine rerank against the raw
    partitions joined by id (same output contract as similarity.lsh_topk:
    q_id, vec_id, sim, rank). Only an index built by
    :func:`build_ann_index` carries the bands; any other fails loudly."""
    from functools import reduce

    if not M.read_meta(index_dir, _LSH_KEY, False):
        raise ValueError(
            f"no LSH table at {index_dir}: it is written by build_ann_index"
        )
    qb = _query_buckets(queries)
    qb_df = spark.createDataFrame(qb, "q_id long, table_id int, bucket string")
    pairs = sorted({(t, b) for _, t, b in qb})
    pred = reduce(
        lambda acc, tb: acc
        | ((F.col("table_id") == tb[0]) & (F.col("bucket") == tb[1])),
        pairs,
        F.lit(False),
    )
    buckets = _live(
        spark, index_dir, spark.read.parquet(M.table_path(index_dir, "lsh_buckets")).where(pred)
    )
    cands = (
        buckets.join(F.broadcast(qb_df), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .dropDuplicates(["q_id", "vec_id"])
    )
    raw = spark.read.parquet(M.table_path(index_dir, "raw")).select("vec_id", "embedding")
    scored = (
        cands.join(raw, "vec_id")
        .join(F.broadcast(_queries_df(spark, queries)), "q_id")
        .select(
            "q_id",
            "vec_id",
            S.cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return S.topk_per_key(
        scored, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


# --------------------------------------------------------------------------
# Scalar-quantized (SQ8) arm — the middle rung of the compression ladder.
#
# PQ at PQ_M=4 subspaces is a 2-byte/vector shortlist signal: extreme
# compression, coarse ranking. The raw/ arm is exact but 256 B/vector at
# DIM=64 float32. Production ANN services (FAISS's ScalarQuantizer tier)
# keep a per-DIMENSION uniform int8 quantization between the two:
# ~1 byte/dim (64 B/vector here — 4x smaller probed IO than raw), with
# far finer resolution than PQ because every dimension keeps its own
# 8-bit grid instead of sharing a 4-bit codebook across a 16-dim
# subspace. The SQ8 arm is DERIVED state: built from the stored raw/
# partitions by ``add_sq8_to_ann_index`` (so existing indexes upgrade in
# place), maintained by append/compact like the other partitioned
# tables, and searched two-stage (integer code-space shortlist + exact
# cosine rerank) by ``ann_index_sq8_topk``.
#
# Quantizer: per-dim (vmin, vmax) over the live corpus, stored in
# ``sq_stats/`` (64 rows — metadata) and IMMUTABLE once built, the same
# invariant as the PQ codebook: appended vectors encode against the
# stored grid, and because codes are NOT clipped to [0, 255] an
# out-of-range component still round-trips exactly (its code just falls
# outside the byte range — the int32 parquet column bit-packs it all the
# same), so append+search stays exact without retraining.
#
# Scoring: both query and corpus encode on the same grid, and the
# shortlist ranks by the exact-integer code-space L2
# ``sum((q_code_d - code_d)^2)`` — per-dim span-normalized squared
# distance. Like the ADC LUT distances this is a deterministic integer,
# so the DuckDB twin (_ANN_SQ8_RERANK_SQL in plans/llm_ops.py)
# reproduces it bit for bit; the exact rounded-cosine rerank then fixes
# the final ordering. The encode formula (round((x - vmin) / span *
# 255), HALF_UP) is the one embedding_quantize's oracle already proves
# cross-engine-identical.

_SQ8_KEY = "__sq8__"
# Incremental drift accounting (manifest counters): the OOB-component /
# total-component / physical-row counts of the sq8 codes table, stamped
# at retrain, accumulated at append, recomputed exactly at compaction —
# so the drift audit reads three manifest keys instead of rescanning a
# corpus-sized codes table per monitoring call. A store whose counters
# predate this accounting (missing keys) falls back to the exact scan
# until its next retrain or compaction stamps them.
_SQ8_OOB_KEY = "__sq8_oob_components__"
_SQ8_COMP_KEY = "__sq8_components__"
_SQ8_ROWS_KEY = "__sq8_rows__"
# Materialized prefix-codes arm (``sq8_prefix/``): the leading-`dims`
# int8 codes as their own cell-partitioned table, so a truncated
# code-space search cuts SCAN bytes, not just scored bytes. The key
# stores the materialized width; readers with dims <= width scan the
# prefix table instead of the full codes column.
_SQ8_PREFIX_DIMS_KEY = "__sq8_prefix_dims__"
# Row count of the corpus the int8 grid was trained on — stamped by
# add_sq8_to_ann_index so the stats audit can report how far the corpus
# has grown past the grid (the drift-age signal).
_SQ8_TRAINED_ROWS_KEY = "__sq8_trained_rows__"
def _read_sq_stats(spark: SparkSession, index_dir: str):
    """(vmin, scale) per dim from the stored ``sq_stats/`` table —
    metadata-sized, cached like the centroid/codebook quantizers."""

    def load():
        t = _read_pa(index_dir, "sq_stats").sort_by("dim")
        vmin = t["vmin"].to_numpy().astype(np.float64)
        vmax = t["vmax"].to_numpy().astype(np.float64)
        return vmin, (vmax - vmin) / 255.0

    return M.cached_table(index_dir, "sq_stats", load)


def _require_sq8(index_dir: str) -> None:
    if not M.read_meta(index_dir, _SQ8_KEY, False):
        raise ValueError(
            f"no SQ8 arm at {index_dir}: run add_sq8_to_ann_index first"
        )


def _sq8_encode_udf(vmin: np.ndarray, scale: np.ndarray):
    """Vectorized SQ8 encoder over the ``embedding`` column — the same
    Arrow-batched numpy-kernel convention as pq_encode_udf (a per-
    element SQL ``transform`` lambda measured ~5x slower at 1M rows).
    HALF_UP rounding (S._half_up ≡ Spark/DuckDB ``round``); a
    degenerate dimension (vmax == vmin ⇒ scale 0) encodes to 0 by
    convention."""

    @F.pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        x = np.array(emb.tolist(), dtype=np.float64)
        return pd.Series(list(_sq8_encode_np(x, vmin, scale).astype(np.int32)))

    return encode


def _sq8_encode_np(vec, vmin: np.ndarray, scale: np.ndarray) -> np.ndarray:
    """SQ8 codes of a vector or of the rows of a matrix — the kernel of
    :func:`_sq8_encode_udf`, the driver landing and the query side:
    same grid, same HALF_UP rounding (S._half_up ≡ Spark round)."""
    x = np.asarray(vec, dtype=np.float64)
    safe = np.where(scale == 0.0, 1.0, scale)
    return np.where(
        scale == 0.0, 0, S._half_up((x - vmin) / safe)
    ).astype(np.int64)


def _sq8_dists_udf(q_mat: np.ndarray):
    """Per-row exact-integer code-space squared L2 to ALL query codes
    at once — one int64 matmul per Arrow batch against the closure-held
    (n_queries x dim) query matrix, returning an array the probe join
    indexes into. Each probed row's codes cross Arrow ONCE (the
    score-after-join alternative shipped both arrays per (query, row)
    pair and was measured 2x slower; the 64-element zip_with/aggregate
    HOF before that, 5x). ||b||^2 + ||q||^2 - 2 b.q in int64 is exact —
    no float in the shortlist ranking."""
    qq = np.einsum("ij,ij->i", q_mat, q_mat)[None, :]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def dists(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        # single-pass concat + reshape (np.vstack's per-row atleast_2d
        # loop measured ~2x the whole kernel at 1M rows/batch)
        b = (
            np.concatenate(codes.to_numpy())
            .astype(np.int64)
            .reshape(len(codes), -1)
        )
        d = (
            np.einsum("ij,ij->i", b, b)[:, None]
            + qq
            - 2 * (b @ q_mat.T)
        )
        return pd.Series(list(d))

    return dists


def _sq8_code_aggregate(codes_df: DataFrame) -> tuple[int, int, int]:
    """(oob_components, total_components, n_rows) over a codes table or
    batch — ONE map-side-combined aggregate; the per-element HOF is
    fine because this runs at maintenance/append time, not on the
    probe path."""
    oob = F.size(
        F.filter("codes", lambda c: (c < F.lit(0)) | (c > F.lit(255)))
    )
    row = codes_df.agg(
        F.sum(oob).alias("oob"),
        F.sum(F.size("codes")).alias("comp"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row.oob or 0), int(row.comp or 0), int(row.n)


def _stamp_sq8_counters(index_dir: str, oob: int, comp: int, n: int) -> None:
    M.write_meta(index_dir, _SQ8_OOB_KEY, int(oob))
    M.write_meta(index_dir, _SQ8_COMP_KEY, int(comp))
    M.write_meta(index_dir, _SQ8_ROWS_KEY, int(n))


def _accumulate_sq8_counters(
    index_dir: str, counts: Callable[[], tuple[int, int, int]]
) -> None:
    """Append-time half of the incremental drift accounting: fold the
    new batch's (oob, components, rows) — ``counts()``, one O(new)
    aggregate or the driver landing's tally — into the manifest counters
    instead of an O(corpus) rescan per stats call. No-op when the
    counters were never stamped (a store from before this accounting):
    the exact-scan fallback covers it."""
    if M.read_meta(index_dir, _SQ8_ROWS_KEY, None) is None:
        return
    oob, comp, n = counts()
    _stamp_sq8_counters(
        index_dir,
        M.read_meta(index_dir, _SQ8_OOB_KEY, 0) + oob,
        M.read_meta(index_dir, _SQ8_COMP_KEY, 0) + comp,
        M.read_meta(index_dir, _SQ8_ROWS_KEY, 0) + n,
    )


def add_sq8_to_ann_index(spark: SparkSession, index_dir: str) -> None:
    """Derive the SQ8 arm from the stored ``raw/`` partitions: one
    64-row min/max aggregate (map-side combined) trains the grid, one
    map-only encode pass lands ``sq8/`` (vec_id, codes array<int>)
    under the layout's pruning key ``(group, cell)``, so probed reads
    stay partition-pruned. Idempotent (overwrite); re-run after a
    rebuild to retrain the grid.

    RETRAIN RULE: the grid is immutable once built (appends encode
    against it, unclipped, so search stays exact), but a drifting
    append distribution walks codes outside 0..255 — storage grows past
    the 64 B/vector design point and code-space distances lose
    resolution on the drifted components. :func:`ann_index_stats`
    reports ``sq8_oob_code_frac`` (fraction of code components outside
    the byte range) and ``sq8_rows_past_grid`` (rows appended since the
    grid trained): when oob_frac rises past ~1% or the corpus has more
    than doubled past the grid, re-run this verb — it re-derives the
    grid AND re-encodes every stored vector from ``raw/``, so the arm
    comes back clean in one idempotent pass."""
    _check_layout(index_dir)
    raw = _live(
        spark, index_dir, spark.read.parquet(M.table_path(index_dir, "raw"))
    )
    (
        raw.select(F.posexplode("embedding").alias("dim", "xf"))
        .select("dim", F.col("xf").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(M.table_path(index_dir, "sq_stats"))
    )
    vmin, scale = _read_sq_stats(spark, index_dir)
    (
        raw.select(
            "vec_id",
            *_PARTS,
            _sq8_encode_udf(vmin, scale)(F.col("embedding")).alias("codes"),
        )
        .repartition(*_PARTS)
        .write.mode("overwrite")
        .partitionBy(*_PARTS)
        .parquet(M.table_path(index_dir, "sq8"))
    )
    # drift-age anchor + counter baseline: one aggregate over the
    # just-written codes table stamps the trained row count AND the
    # incremental drift counters (oob is 0 by construction right after
    # a retrain — the grid is the corpus's own min/max — but it is
    # measured, not assumed)
    oob, comp, n_trained = _sq8_code_aggregate(
        spark.read.parquet(M.table_path(index_dir, "sq8"))
    )
    M.write_meta(index_dir, _SQ8_TRAINED_ROWS_KEY, int(n_trained))
    _stamp_sq8_counters(index_dir, oob, comp, n_trained)
    M.write_meta(index_dir, _SQ8_KEY, True)
    # a retrain moves the grid, so a materialized prefix arm re-derives
    # from the fresh codes (same dims; no-op when no arm is present)
    pdims = M.read_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, None)
    if pdims is not None:
        add_sq8_prefix_to_ann_index(spark, index_dir, int(pdims))


def add_sq8_prefix_to_ann_index(
    spark: SparkSession, index_dir: str, dims: int = S.MRL_DIMS
) -> None:
    """Materialize the PREFIX-CODES arm: ``sq8_prefix/`` holds the
    leading ``dims`` int8 codes per vector, partitioned exactly like
    ``sq8/`` — the deployment move the truncated readers' docstrings
    promise ("a deployment standardizing on a prefix width lands a
    prefix-codes table for the scan-side cut").

    Why a separate table: ``ann_index_sq8_topk(dims=...)`` slices the
    stored codes in the PROJECTION, which cuts Arrow bytes and distance
    FLOPs but not file IO — parquet still reads the whole codes column
    (measured at the 8M rehearsal: truncated-16 51.1 s vs flat 44.8 s,
    no IO win). With this arm present the probed scan reads ~``dims``
    bytes per vector from disk — the number that actually rules at
    100 TB — and results are BIT-IDENTICAL because the per-dim grid is
    independent (the prefix of the trained codes IS the codes of the
    prefix; pinned by test).

    Derived state over ``sq8/`` (one map-only slice pass, idempotent
    overwrite, ``(group, cell)`` partitioning), so the lifecycle rides
    the existing verbs: appends land sliced rows alongside the full
    codes, compaction includes the table in the layout map, tombstones
    filter it through the same ``_live`` anti-join, and a grid retrain
    re-derives it automatically (:func:`add_sq8_to_ann_index`)."""
    _check_layout(index_dir)
    _require_sq8(index_dir)
    sq8 = spark.read.parquet(M.table_path(index_dir, "sq8"))
    (
        sq8.select(
            "vec_id", *_PARTS, F.slice("codes", 1, dims).alias("codes")
        )
        .repartition(*_PARTS)
        .write.mode("overwrite")
        .partitionBy(*_PARTS)
        .parquet(M.table_path(index_dir, "sq8_prefix"))
    )
    M.write_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, int(dims))


def _sq8_scan_table(index_dir: str, dims: int | None) -> tuple[str, bool]:
    """(table, slice_needed) for a code-space scan at width ``dims`` —
    the prefix arm serves any request at or under its materialized
    width; wider (or full-width) requests scan the full codes table."""
    if dims is None:
        return "sq8", False
    pdims = M.read_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, None)
    if pdims is not None and dims <= int(pdims):
        return "sq8_prefix", dims < int(pdims)
    return "sq8", True


def ann_index_sq8_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    shortlist: int | None = None,
    n_probe: int = S.N_PROBE,
    dims: int | None = None,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """Two-stage SQ8 search: partition-pruned scan of the probed cells'
    int8 codes (~64 B/vector — 4x less IO than raw), exact-integer
    code-space L2 against the broadcast query codes, ``shortlist``
    candidates per query (ties to lower vec_id), then exact cosine ONLY
    on those rows. Output contract matches ann_index_ivf_topk:
    (q_id, vec_id, sim, rank).

    ``dims`` composes the PRECISION ladder with the DIMENSION ladder:
    the code-space shortlist runs on only the leading ``dims`` of the
    stored codes (the per-dim grid is independent, so the prefix of the
    trained grid IS the trained grid of the prefix) — ~``dims`` bytes
    per scored vector through the Arrow kernel, 16 B at dims=16 vs
    SQ8's 64 B vs raw's 256 B. When the store carries a materialized
    prefix arm at width ≥ dims (:func:`add_sq8_prefix_to_ann_index`)
    the scan reads ``sq8_prefix/`` and the byte cut applies to file IO
    too; otherwise the slice is JVM-side projection over the full
    codes column. Results are bit-identical either way (per-dim grid
    independence; pinned by test). The rerank stays exact
    full-dimension cosine."""
    _require_sq8(index_dir)
    shortlist = 4 * k if shortlist is None else shortlist
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    vmin, scale = _read_sq_stats(spark, index_dir)
    q_mat = np.vstack(
        [_sq8_encode_np(vec, vmin, scale) for _, vec in queries]
    )
    if dims is not None:
        q_mat = q_mat[:, :dims]
    # probe rows carry the query's position in the closure matrix so the
    # join can index the per-row distance array
    q_pos = {int(q): i for i, (q, _) in enumerate(queries)}
    probes_df = _local_df(
        spark,
        [(*p, q_pos[p[0]]) for p in probes],
        _with_field(_PROBES, "q_idx", T.IntegerType()),
    )

    scan_table, needs_slice = _sq8_scan_table(index_dir, dims)
    sq8 = _live(spark, index_dir, _scan(spark, index_dir, scan_table, probes))
    code_col = (
        F.slice("codes", 1, dims) if needs_slice else F.col("codes")
    )
    scored = (
        sq8.withColumn("dists", _sq8_dists_udf(q_mat)(code_col))
        .join(F.broadcast(probes_df), list(_PARTS))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.element_at("dists", F.col("q_idx") + 1).alias("sq_dist"),
        )
    )
    short = S.topk_per_key(
        scored, "q_id", [F.col("sq_dist"), F.col("vec_id")], shortlist
    ).select("q_id", "vec_id")
    return _exact_rerank(spark, index_dir, queries, probes, short, k)


# --------------------------------------------------------------------------
# Binary (1-bit sign) arm — the bottom rung of the probed-bytes ladder:
# ~dims/8 bytes per vector (8 B at DIM=64, under PQ's 2 B only the LUT
# codes beat it, but binary's Hamming shortlist needs no codebook LUT
# at probe time) with the SHORTLIST STAGE entirely JVM-side. Hamming
# over packed 64-bit words is xor + bit_count + sum — integer
# bit-arithmetic Catalyst folds into whole-stage codegen — so unlike
# every other rung there is NO Arrow transfer and NO Python kernel on
# the scored path; the only Python in the arm is the build/append-time
# encoder. The rerank stays exact full-dimension cosine, same contract
# as the SQ8/PQ rungs.
#
# Threshold convention: per-dim MIDRANGE (vmin + vmax) / 2 over the
# live corpus, NOT the mean — min and max are exact under any
# summation order, so the DuckDB oracle reproduces every bit exactly
# (a mean threshold differs in the last ulp between the two engines'
# summation orders, and a boundary component would flip a bit and
# break parity). bit[d] = x[d] > thresh[d] (strict, so a degenerate
# dimension encodes 0), packed little-endian: bit (d mod 64) of word
# (d div 64); bit 63 lands in the long's sign bit — the VALUE may be
# negative, readers only xor/popcount the bit pattern, and the
# packed-vs-unpacked Hamming identity is pinned by test.

_BINARY_KEY = "__binary__"
_BINARY_DIMS_KEY = "__binary_dims__"
# Row count the thresholds trained on — the growth half of the retrain
# rule (like _SQ8_TRAINED_ROWS_KEY).
_BINARY_TRAINED_ROWS_KEY = "__binary_trained_rows__"
_BINARY_TRAINED_ONES_KEY = "__binary_trained_ones_frac__"
# Incremental bit-balance accounting (manifest counters, same
# discipline as the SQ8 drift counters): total set bits / physical
# rows of the binary table, stamped at (re)train, accumulated per
# append, recomputed exactly at compaction. Appended vectors encode
# against the immutable thresholds, so a drifting append distribution
# shows up as the corpus bit-balance walking away from the trained
# balance — search stays EXACT (a bit is a bit; nothing goes out of
# range the way SQ8 codes do) but the shortlist's discrimination
# degrades as the balance skews, which is why the audit exists.
_BINARY_ONES_KEY = "__binary_ones__"
_BINARY_ROWS_KEY = "__binary_rows__"


def _read_bin_thresh(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Per-dim midrange thresholds from the stored ``bin_stats/`` table
    — metadata-sized, cached like the centroid/codebook/SQ-grid
    quantizers."""

    def load():
        t = _read_pa(index_dir, "bin_stats").sort_by("dim")
        return t["thresh"].to_numpy().astype(np.float64)

    return M.cached_table(index_dir, "bin_stats", load)


def _require_binary(index_dir: str) -> None:
    if not M.read_meta(index_dir, _BINARY_KEY, False):
        raise ValueError(
            f"no binary arm at {index_dir}: run add_binary_to_ann_index"
            " first"
        )


def _pack_bits(bits: np.ndarray) -> np.ndarray:
    """(n, dims) bool → (n, ceil(dims/64)) int64: little-endian packing
    (dim d → bit d mod 64 of word d div 64), trailing pad bits zero.
    The int64 VIEW keeps the uint64 bit pattern (bit 63 = sign bit);
    readers only xor/popcount, so the sign is never interpreted."""
    n, dims = bits.shape
    n_words = (dims + 63) // 64
    padded = np.zeros((n, n_words * 64), dtype=bool)
    padded[:, :dims] = bits
    weights = np.left_shift(
        np.uint64(1), np.arange(64, dtype=np.uint64)
    )
    words = (padded.reshape(n, n_words, 64) * weights).sum(
        axis=2, dtype=np.uint64
    )
    return words.view(np.int64)


def _binary_encode_udf(thresh: np.ndarray):
    """Vectorized sign-bit encoder over the ``embedding`` column —
    Arrow-batched numpy kernel, same convention as the SQ8/PQ encoders.
    Build/append-time only: the probe path never runs Python."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def encode(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_pack_bits(_stack(emb) > thresh[None, :])))

    return encode


def _binary_encode_np(vec, thresh: np.ndarray) -> list[int]:
    """Driver-side twin of :func:`_binary_encode_udf` for query
    vectors — same thresholds, same strict >, same packing."""
    x = np.asarray(vec, dtype=np.float64)
    return [int(w) for w in _pack_bits((x > thresh)[None, :])[0]]


def _hamming_col(words, q_words):
    """Hamming distance between two packed-word array columns — pure
    Catalyst integer bit-arithmetic (xor → bit_count → sum), zero
    Python, zero Arrow: the whole shortlist scoring stage stays inside
    whole-stage codegen."""
    return F.aggregate(
        F.zip_with(
            words, q_words, lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _binary_ones_aggregate(words_df: DataFrame) -> tuple[int, int]:
    """(set_bits, n_rows) over a binary table or batch — one
    map-side-combined aggregate; pad bits are zero so only real
    components count. Maintenance/append-time only."""
    ones = F.aggregate(
        "words", F.lit(0), lambda acc, w: acc + F.bit_count(w)
    )
    row = words_df.agg(
        F.sum(ones).alias("ones"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(row.ones or 0), int(row.n)


def _stamp_binary_counters(index_dir: str, ones: int, n: int) -> None:
    M.write_meta(index_dir, _BINARY_ONES_KEY, int(ones))
    M.write_meta(index_dir, _BINARY_ROWS_KEY, int(n))


def _accumulate_binary_counters(
    index_dir: str, counts: Callable[[], tuple[int, int]]
) -> None:
    """Append-time half of the bit-balance accounting: fold the new
    batch's (ones, rows) — ``counts()`` — into the manifest counters,
    so the balance audit stays O(metadata)."""
    if M.read_meta(index_dir, _BINARY_ROWS_KEY, None) is None:
        return
    ones, n = counts()
    _stamp_binary_counters(
        index_dir,
        M.read_meta(index_dir, _BINARY_ONES_KEY, 0) + ones,
        M.read_meta(index_dir, _BINARY_ROWS_KEY, 0) + n,
    )


def add_binary_to_ann_index(spark: SparkSession, index_dir: str) -> None:
    """Derive the binary arm from the stored ``raw/`` partitions: one
    per-dim min/max aggregate trains the midrange thresholds
    (``bin_stats/``), one map-only encode pass lands ``binary/``
    (vec_id, words array<long>) under the layout's pruning key
    ``(group, cell)``, so probed reads stay partition-pruned.
    Idempotent (overwrite); re-run to retrain after a rebuild.

    RETRAIN RULE: the thresholds are immutable once trained (appends
    encode against them, so old and new words stay comparable), and —
    unlike the SQ8 grid — a drifting append distribution can NEVER
    make the arm inexact: a bit is a bit, the Hamming shortlist and
    the exact rerank remain correct. What drift costs is
    DISCRIMINATION: off-center thresholds skew the corpus bit balance
    and Hamming distances bunch up. :func:`ann_index_stats` reports
    ``binary_ones_frac`` (set-bit fraction, from the O(metadata)
    counters) next to the trained balance; when it walks more than
    ~5 points from the trained value, or the corpus more than doubles
    past the thresholds' training set, :func:`compact_ann_index`
    re-runs this verb automatically (same no-knob contract as the SQ8
    drift retrain)."""
    _check_layout(index_dir)
    raw = _live(
        spark, index_dir, spark.read.parquet(M.table_path(index_dir, "raw"))
    )
    (
        raw.select(F.posexplode("embedding").alias("dim", "xf"))
        .select("dim", F.col("xf").cast("double").alias("x"))
        .groupBy("dim")
        .agg(((F.min("x") + F.max("x")) / F.lit(2.0)).alias("thresh"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(M.table_path(index_dir, "bin_stats"))
    )
    thresh = _read_bin_thresh(spark, index_dir)
    (
        raw.select(
            "vec_id",
            *_PARTS,
            _binary_encode_udf(thresh)(F.col("embedding")).alias("words"),
        )
        .repartition(*_PARTS)
        .write.mode("overwrite")
        .partitionBy(*_PARTS)
        .parquet(M.table_path(index_dir, "binary"))
    )
    ones, n_trained = _binary_ones_aggregate(
        spark.read.parquet(M.table_path(index_dir, "binary"))
    )
    n_bits = n_trained * len(thresh)
    M.write_meta(index_dir, _BINARY_DIMS_KEY, int(len(thresh)))
    M.write_meta(index_dir, _BINARY_TRAINED_ROWS_KEY, int(n_trained))
    M.write_meta(
        index_dir,
        _BINARY_TRAINED_ONES_KEY,
        float(ones) / float(n_bits) if n_bits else 0.0,
    )
    _stamp_binary_counters(index_dir, ones, n_trained)
    M.write_meta(index_dir, _BINARY_KEY, True)


def _binary_scored(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    probes: list[tuple],
) -> DataFrame:
    """The Hamming stage of the binary arm and the cascade: pruned scan
    of ``binary/``, broadcast probe join (each probe row carries its
    query's packed words, so no second join attaches them), and the
    codegen Hamming column. Returns (q_id, vec_id, ham)."""
    thresh = _read_bin_thresh(spark, index_dir)
    q_words = {int(q): _binary_encode_np(vec, thresh) for q, vec in queries}
    probes_df = _local_df(
        spark,
        [(*p, q_words[p[0]]) for p in probes],
        _with_field(_PROBES, "q_words", T.ArrayType(T.LongType())),
    )
    words = _live(spark, index_dir, _scan(spark, index_dir, "binary", probes))
    return (
        words.join(F.broadcast(probes_df), list(_PARTS))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _hamming_col("words", "q_words").alias("ham"),
        )
    )


def ann_index_binary_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    shortlist: int | None = None,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """Two-stage binary search: partition-pruned scan of the probed
    cells' packed sign bits (~dims/8 B per vector — 8 B at DIM=64, 8x
    under SQ8, 32x under raw), Hamming shortlist against the broadcast
    query words ENTIRELY in whole-stage codegen (ties to lower
    vec_id), exact cosine rerank on the shortlist only. Output
    contract matches ann_index_ivf_topk: (q_id, vec_id, sim, rank)."""
    _require_binary(index_dir)
    shortlist = 4 * k if shortlist is None else shortlist
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    scored = _binary_scored(spark, index_dir, queries, probes)
    short = S.topk_per_key(
        scored, "q_id", [F.col("ham"), F.col("vec_id")], shortlist
    ).select("q_id", "vec_id")
    return _exact_rerank(spark, index_dir, queries, probes, short, k)


def ann_index_cascade_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[Query],
    k: int = 5,
    shortlist: int | None = None,
    coarse_shortlist: int | None = None,
    n_probe: int = S.N_PROBE,
    *,
    n_probe_groups: int = N_PROBE_GROUPS,
) -> DataFrame:
    """The probed-bytes ladder COMPOSED as a three-stage cascade:
    binary Hamming over the packed sign bits (~dims/8 B per scanned
    vector) covers the whole probed population and keeps
    ``coarse_shortlist`` candidates; exact-integer SQ8 code-space L2
    re-scores only those survivors down to ``shortlist``; exact cosine
    reranks only those to the final k. The deep-but-cheap first stage
    absorbs the 1-bit rung's precision loss (its honest 8M recall at a
    4K shortlist is 0.82; with the cascade's deeper coarse cut the SQ8
    stage re-ranks with 8x the precision before anything exact runs).
    The SQ8 stage is a broadcast semi-join of the survivors onto the
    pruned codes scan — the integer distance work shrinks from the
    probed population to |queries| x coarse_shortlist pairs, and the
    per-pair L2 is a ``zip_with`` square-sum in whole-stage codegen —
    so no stage evaluates Python. Requires both derived arms. Output
    contract matches ann_index_ivf_topk: (q_id, vec_id, sim, rank)."""
    _require_binary(index_dir)
    _require_sq8(index_dir)
    shortlist = 4 * k if shortlist is None else shortlist
    coarse_shortlist = (
        4 * shortlist if coarse_shortlist is None else coarse_shortlist
    )
    probes = _probes(spark, index_dir, queries, n_probe, n_probe_groups)
    short1 = S.topk_per_key(
        _binary_scored(spark, index_dir, queries, probes),
        "q_id",
        [F.col("ham"), F.col("vec_id")],
        coarse_shortlist,
    ).select("q_id", "vec_id")
    vmin, scale = _read_sq_stats(spark, index_dir)
    q_codes_df = spark.createDataFrame(
        [
            (int(q), [int(c) for c in _sq8_encode_np(vec, vmin, scale)])
            for q, vec in queries
        ],
        "q_id long, q_codes array<int>",
    )
    sq8 = _live(spark, index_dir, _scan(spark, index_dir, "sq8", probes))
    # (a-b)^2 summed as int: bounded by dims * 255^2 (~4.2M at dims=64,
    # overflow-safe far past any real embedding width)
    sq_dist = F.aggregate(
        F.zip_with("codes", "q_codes", lambda a, b: (a - b) * (a - b)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    sq_scored = (
        sq8.join(F.broadcast(short1), "vec_id")
        .join(F.broadcast(q_codes_df), "q_id")
        .select("q_id", "vec_id", sq_dist.alias("sq_dist"))
    )
    # sq_scored is already bounded (≤ queries × coarse_shortlist rows),
    # so the mid-cascade cut needs only the single window
    short2 = S.topk_bounded(
        sq_scored, "q_id", [F.col("sq_dist"), F.col("vec_id")], shortlist
    ).select("q_id", "vec_id")
    return _exact_rerank(spark, index_dir, queries, probes, short2, k)


# --------------------------------------------------------------------------
# Index maintenance: compaction + layout audit.

def _table_map(index_dir: str) -> dict:
    """The partitioned tables at ``index_dir`` — ``vectors/``, ``raw/``,
    the quantizer shard table ``fine/`` and the flagged arms — with
    their partition columns: what appends, compaction and the layout
    audit iterate."""
    tables = {"vectors": _PARTS, "raw": _PARTS, "fine": ("group",)}
    if M.read_meta(index_dir, _LSH_KEY, False):
        tables["lsh_buckets"] = ("table_id",)
    if M.read_meta(index_dir, _SQ8_KEY, False):
        tables["sq8"] = _PARTS
        if M.read_meta(index_dir, _SQ8_PREFIX_DIMS_KEY, None) is not None:
            tables["sq8_prefix"] = _PARTS
    if M.read_meta(index_dir, _BINARY_KEY, False):
        tables["binary"] = _PARTS
    return tables


_data_files = M.data_files


# The documented SQ8 retrain rule (add_sq8_to_ann_index docstring) as
# thresholds the maintenance pass acts on: retrain when more than ~1%
# of code components sit outside the byte range, or when the corpus
# has more than doubled past what the grid trained on.
SQ8_RETRAIN_OOB_FRAC = 0.01
SQ8_RETRAIN_GROWTH = 1.0

# The binary retrain rule (add_binary_to_ann_index docstring):
# re-derive the thresholds when the corpus bit balance has walked more
# than 5 points from the trained balance, or the corpus has more than
# doubled past what the thresholds trained on. Search is exact either
# way (a bit is a bit) — the rule protects shortlist DISCRIMINATION.
BINARY_RETRAIN_BALANCE_DELTA = 0.05
BINARY_RETRAIN_GROWTH = 1.0


def _binary_drift_numbers(
    spark: SparkSession, index_dir: str, exact: bool = False
) -> tuple[float, int, int | None]:
    """(ones_frac, n_rows, rows_past_train) for the binary arm —
    O(metadata) off the manifest counters; ``exact=True`` (and the
    fallback for an unstamped store) recomputes from the table. Same
    contract as :func:`_sq8_drift_numbers`."""
    dims = int(M.read_meta(index_dir, _BINARY_DIMS_KEY, 0) or 0)
    trained = M.read_meta(index_dir, _BINARY_TRAINED_ROWS_KEY, None)
    if not exact:
        ones = M.read_meta(index_dir, _BINARY_ONES_KEY, None)
        n_rows = M.read_meta(index_dir, _BINARY_ROWS_KEY, None)
        if ones is not None and n_rows is not None:
            bits = int(n_rows) * dims
            frac = float(ones) / float(bits) if bits else 0.0
            past = (
                int(n_rows) - int(trained) if trained is not None else None
            )
            return frac, int(n_rows), past
    ones_n, n_rows = _binary_ones_aggregate(
        spark.read.parquet(M.table_path(index_dir, "binary"))
    )
    bits = n_rows * dims
    frac = float(ones_n) / float(bits) if bits else 0.0
    past = int(n_rows) - int(trained) if trained is not None else None
    return frac, int(n_rows), past


def _binary_drift_retrain_due(
    spark: SparkSession, index_dir: str
) -> dict | None:
    """The binary-arm drift check :func:`compact_ann_index` runs —
    O(metadata), returning the evidence dict when the documented rule
    fires, else None."""
    if not M.read_meta(index_dir, _BINARY_KEY, False):
        return None
    frac, _n_rows, past = _binary_drift_numbers(spark, index_dir)
    trained_frac = M.read_meta(index_dir, _BINARY_TRAINED_ONES_KEY, None)
    trained = M.read_meta(index_dir, _BINARY_TRAINED_ROWS_KEY, None)
    walked = (
        trained_frac is not None
        and abs(frac - float(trained_frac)) > BINARY_RETRAIN_BALANCE_DELTA
    )
    grown = (
        past is not None
        and trained is not None
        and int(trained) > 0
        and past > BINARY_RETRAIN_GROWTH * int(trained)
    )
    if walked or grown:
        return {
            "ones_frac": frac,
            "trained_ones_frac": trained_frac,
            "rows_past_train": past,
            "trained_rows": trained,
        }
    return None


def _sq8_drift_retrain_due(
    spark: SparkSession, index_dir: str
) -> dict | None:
    """The drift check :func:`compact_ann_index` runs before its
    rewrite — O(metadata) (manifest counters), returning the evidence
    dict when the documented retrain rule fires, else None."""
    if not M.read_meta(index_dir, _SQ8_KEY, False):
        return None
    frac, _n_rows, past = _sq8_drift_numbers(spark, index_dir)
    trained = M.read_meta(index_dir, _SQ8_TRAINED_ROWS_KEY, None)
    grown = (
        past is not None
        and trained is not None
        and int(trained) > 0
        and past > SQ8_RETRAIN_GROWTH * int(trained)
    )
    if frac > SQ8_RETRAIN_OOB_FRAC or grown:
        return {
            "oob_frac": frac,
            "rows_past_grid": past,
            "trained_rows": trained,
        }
    return None


def compact_ann_index(
    spark: SparkSession,
    index_dir: str,
    tables: tuple[str, ...] | None = None,
    sq8_drift_check: bool = True,
) -> dict:
    """Rewrite each partitioned artifact table so every partition holds
    one file-set again, and return per-table file counts before/after.

    ``append_to_ann_index`` lands one file-set per cell per batch —
    correct, but N hourly upserts give N small files per hot cell, and
    a partition-pruned search then pays N footer reads + N row-group
    seeks per probed cell: the small-files degradation a real user hits
    first at 100 TB. Compaction is the standard maintenance pass: read
    the table, cluster by its partition column (all rows of a cell land
    in one task ⇒ exactly one file per cell), write it to a NEW
    generation directory, and publish with the atomic manifest flip
    (operators/index_maintenance.py module docstring): readers resolve
    paths through the manifest, so at any instant they see the OLD
    complete table or the NEW complete one — never a half-swapped dir —
    and the superseded generation is retained one cycle for readers
    already scanning it; a crash mid-write leaves the manifest (and
    readers) on the old generation. Row content is
    untouched (pinned bit-identical by tests/test_ann_index.py), so the
    immutable-quantizer invariant and every reader are unaffected.

    Pending tombstones (see :func:`delete_from_ann_index`) are applied
    PHYSICALLY here — the rewrite anti-joins each table against them,
    and once every partitioned table has been rewritten the tombstone
    side table is cleared: readers stop paying the logical filter, and
    the deleted rows' storage is actually reclaimed. Partial-table
    compactions keep the tombstones (the anti-join is idempotent, so a
    survivor table stays correct either way).

    ``tables=None`` compacts every table appends grow: the corpus
    tables and the flagged arms. ``fine/`` is left alone: it is
    immutable, and every build writes it one file per group.

    DRIFT-TRIGGERED SQ8 RETRAIN (``sq8_drift_check``, default on): the
    engine's no-knob principle applied to the grid-drift audit — an
    operator should not have to read ``sq8_oob_code_frac`` and call
    :func:`add_sq8_to_ann_index` by hand. The check runs O(metadata)
    off the manifest counters before the rewrite; when the store
    carries the arm and the documented rule fires (oob_frac > 1% or
    the corpus has more than doubled past the grid), the idempotent
    retrain verb re-runs AFTER the rewrite — the grid re-derives from
    the just-compacted (tombstone-applied) ``raw/``, every vector
    re-encodes, a present prefix arm re-lands, and the drift counters
    reset. The rare retrain pays one extra rewrite of the small codes
    table; the common no-drift compaction instead restamps the
    counters exactly from the table it rewrote anyway. The returned
    stats carry the evidence under ``"sq8_retrain"`` and the manifest
    records it (``__sq8_last_retrain__``). A binary arm gets the same
    treatment under the same flag: its bit-balance/growth rule
    (:func:`add_binary_to_ann_index`) is checked O(metadata), a due
    retrain re-derives the thresholds and words after the rewrite
    (``"binary_retrain"`` / ``__binary_last_retrain__``), and a
    no-drift compaction restamps the balance counters exactly."""
    _check_layout(index_dir)
    table_map = _table_map(index_dir)
    del table_map["fine"]
    todo = tables or tuple(table_map)
    retrain = (
        _sq8_drift_retrain_due(spark, index_dir)
        if sq8_drift_check and "sq8" in todo
        else None
    )
    bin_retrain = (
        _binary_drift_retrain_due(spark, index_dir)
        if sq8_drift_check and "binary" in todo
        else None
    )
    stats = M.compact_index(
        spark, index_dir, table_map, todo, "vec_id"
    )
    if retrain:
        add_sq8_to_ann_index(spark, index_dir)
        M.write_meta(index_dir, "__sq8_last_retrain__", retrain)
        stats["sq8_retrain"] = retrain
    elif "sq8" in todo and M.read_meta(index_dir, _SQ8_KEY, False):
        # the rewrite applied tombstones physically: restamp the drift
        # counters exactly from the compacted table (one aggregate over
        # data the compaction just rewrote anyway)
        oob, comp, n = _sq8_code_aggregate(
            spark.read.parquet(M.table_path(index_dir, "sq8"))
        )
        _stamp_sq8_counters(index_dir, oob, comp, n)
    if bin_retrain:
        add_binary_to_ann_index(spark, index_dir)
        M.write_meta(index_dir, "__binary_last_retrain__", bin_retrain)
        stats["binary_retrain"] = bin_retrain
    elif "binary" in todo and M.read_meta(index_dir, _BINARY_KEY, False):
        ones, n = _binary_ones_aggregate(
            spark.read.parquet(M.table_path(index_dir, "binary"))
        )
        _stamp_binary_counters(index_dir, ones, n)
    return stats


def ann_index_stats(
    spark: SparkSession, index_dir: str, exact_drift: bool = False
) -> DataFrame:
    """Layout audit over the partitioned artifact tables: one row per
    table with rows/partition skew and files/partition — the numbers
    that tell an operator WHEN to run :func:`compact_ann_index` (rising
    ``max_part_files``) and whether the partitioning is balanced
    (``max_part_rows`` vs ``avg_part_rows``). Rows-only by design: the
    physical file layout is Spark-side state with no SQL-expressible
    DuckDB twin. Lists every table of :func:`_table_map`, ``fine/``
    included.

    When the SQ8 arm is present its row additionally carries the GRID
    DRIFT audit (null on every other table): ``sq8_oob_code_frac`` =
    fraction of code components outside 0..255 (appends encode against
    the immutable grid unclipped — exactness is preserved, but OOB
    codes mean the append distribution has walked past the trained
    range) and ``sq8_rows_past_grid`` = NET row growth since the grid
    trained (negative after compacted deletes shrink the corpus below
    what the grid saw — read as max(0, value)). The drift numbers come
    from the O(metadata) manifest counters (see
    :func:`_sq8_drift_numbers`); ``exact_drift=True`` recomputes them
    with the full-table aggregate for audits. The retrain rule lives
    on :func:`add_sq8_to_ann_index` and fires automatically from
    :func:`compact_ann_index`.

    A binary arm likewise carries its bit-balance audit on its own row
    (``binary_ones_frac`` = set-bit fraction of the corpus words,
    ``binary_rows_past_train`` = net growth since the thresholds
    trained), from the same O(metadata) counter discipline; the
    retrain rule lives on :func:`add_binary_to_ann_index`."""
    _check_layout(index_dir)
    stats = M.index_stats(spark, index_dir, _table_map(index_dir))
    if not M.read_meta(index_dir, _SQ8_KEY, False):
        stats = stats.withColumn(
            "sq8_oob_code_frac", F.lit(None).cast("double")
        ).withColumn("sq8_rows_past_grid", F.lit(None).cast("long"))
    else:
        frac, _n_rows, past = _sq8_drift_numbers(
            spark, index_dir, exact=exact_drift
        )
        stats = stats.withColumn(
            "sq8_oob_code_frac",
            F.when(F.col("table") == "sq8", F.lit(frac)).cast("double"),
        ).withColumn(
            "sq8_rows_past_grid",
            F.when(F.col("table") == "sq8", F.lit(past)).cast("long"),
        )
    if not M.read_meta(index_dir, _BINARY_KEY, False):
        return stats.withColumn(
            "binary_ones_frac", F.lit(None).cast("double")
        ).withColumn("binary_rows_past_train", F.lit(None).cast("long"))
    bfrac, _bn, bpast = _binary_drift_numbers(
        spark, index_dir, exact=exact_drift
    )
    return stats.withColumn(
        "binary_ones_frac",
        F.when(F.col("table") == "binary", F.lit(bfrac)).cast("double"),
    ).withColumn(
        "binary_rows_past_train",
        F.when(F.col("table") == "binary", F.lit(bpast)).cast("long"),
    )


def _sq8_drift_numbers(
    spark: SparkSession, index_dir: str, exact: bool = False
) -> tuple[float, int, int | None]:
    """(oob_frac, n_rows, rows_past_grid) — O(metadata) by default: the
    manifest counters stamped at retrain, accumulated at append, and
    recomputed at compaction carry the exact physical-table numbers, so
    a monitoring call reads three keys instead of rescanning a
    corpus-sized codes table (the r12 regression: the stats query
    doubled in cost and scaled with the corpus). ``exact=True`` — and
    the fallback for a store whose counters were never stamped — runs
    the one-aggregate scan; the two paths agree exactly because every
    counter transition is measured from the same codes (pinned by
    test). ``rows_past_grid`` is the NET row growth since the grid
    trained — deletes applied physically by a later compaction shrink
    it and can make it negative (the corpus is smaller than the grid
    ever saw: no drift pressure); the retrain rule reads it as
    max(0, value)."""
    trained = M.read_meta(index_dir, _SQ8_TRAINED_ROWS_KEY, None)
    if not exact:
        oob = M.read_meta(index_dir, _SQ8_OOB_KEY, None)
        comp = M.read_meta(index_dir, _SQ8_COMP_KEY, None)
        n_rows = M.read_meta(index_dir, _SQ8_ROWS_KEY, None)
        if oob is not None and comp is not None and n_rows is not None:
            frac = float(oob) / float(comp) if comp else 0.0
            past = (
                int(n_rows) - int(trained) if trained is not None else None
            )
            return frac, int(n_rows), past
    oob_n, comp_n, n_rows = _sq8_code_aggregate(
        spark.read.parquet(M.table_path(index_dir, "sq8"))
    )
    frac = float(oob_n) / float(comp_n) if comp_n else 0.0
    past = int(n_rows) - int(trained) if trained is not None else None
    return frac, int(n_rows), past


def sq8_drift_stats(
    spark: SparkSession, index_dir: str, exact: bool = False
) -> DataFrame:
    """The drift audit ALONE (the registered per-round query's shape:
    ann_index_stats would re-aggregate every artifact table just to
    keep one row) — O(metadata) from the manifest counters by default,
    ``exact=True`` for the full-scan audit. Raises if the store has no
    SQ8 arm, like the sq8 readers."""
    _require_sq8(index_dir)
    frac, n_rows, past = _sq8_drift_numbers(spark, index_dir, exact=exact)
    return spark.createDataFrame(
        [("sq8", n_rows, frac, past)],
        "table string, rows bigint, sq8_oob_code_frac double, "
        "sq8_rows_past_grid bigint",
    )


# --------------------------------------------------------------------------
# The two-level quantizer (IMI-style quantizer shard) with several
# groups — the shape past the AUTO_MAX_CELLS wall that auto_n_centroids'
# docstring defers to.
#
# The corpus tables are partitioned by the COMPOSED assignment (nearest
# group, then nearest fine cell within it), so search prunes on group
# at the top directory level and cell below it. Many groups pay off
# past ~270M vectors, where a probed-cell scan of raw floats (256
# B/vector at DIM=64 float32) costs ~100x the IO of 2-byte PQ codes.
#
# Past the quantizer training, every build shares the write verbs
# (:func:`_land_corpus`, :func:`append_to_ann_index`) and every search
# arm probes (group, cell) rows (:func:`_probes`). Assignment, probe
# selection, and scoring all use the rounded-6 cosine + (sim desc, id
# asc) tie-break, so the DuckDB twins (_ANN_IVF_SQL, _ANN_2LEVEL_SQL in
# plans/llm_ops.py) reproduce every step bit-identically.


def _group_of_cells(c_mat: np.ndarray, g_mat: np.ndarray) -> np.ndarray:
    """cell -> nearest coarse group (rounded cosine, ties to lower
    group id) — the gmap that shards the fine quantizer. Driver-side:
    n_cells x n_groups cosines over the two metadata-sized quantizer
    matrices (33 MB of centroids at the 65k-cell shape) — feasible to
    ~1M cells, which is exactly where auto_quantizer_shape clamps
    (AUTO_MAX_CELLS_2L); past that build_ann_index_2level_distributed
    runs it as a map-side pass."""
    return S.nearest_rounded(
        c_mat, S.row_norms(c_mat), g_mat, S.row_norms(g_mat)
    ).astype("int64")


def _nearest_2level(
    g_ids: np.ndarray,
    g_mat: np.ndarray,
    fine_by_group: dict[int, tuple[np.ndarray, np.ndarray]],
) -> Callable[[np.ndarray], np.ndarray]:
    """The composed two-level assignment kernel: nearest LIVE coarse
    group, then nearest fine cell within that group; returns fine cell
    ids. Each vector's fine argmax touches only its group's
    ~n_cells/n_groups centroids (the two-level build win: corpus x
    (G + C/G) cosines, not corpus x C). Same rounded-6 / first-maximum
    conventions as nearest_cell_udf."""
    g = g_mat.astype(np.float64)
    g_norm = S.row_norms(g)
    groups = [
        (int(gid), ids, m.astype(np.float64), S.row_norms(m))
        for gid, (ids, m) in sorted(fine_by_group.items())
    ]
    assert [gid for gid, *_ in groups] == [int(x) for x in g_ids]

    def nearest(x: np.ndarray) -> np.ndarray:
        x_norm = S.row_norms(x)
        # index into the LIVE group list
        gsel = S.nearest_rounded(x, x_norm, g, g_norm)
        out_c = np.empty(len(x), dtype="int64")
        for pos, (_gid, cell_ids, m, m_norm) in enumerate(groups):
            mask = gsel == pos
            if not mask.any():
                continue
            out_c[mask] = cell_ids[
                S.nearest_rounded(x[mask], x_norm[mask], m, m_norm)
            ]
        return out_c

    return nearest


# The rows a cogroup assignment kernel returns: IDS ONLY. Carrying the
# embedding back out of the cogroup doubled the Arrow payload (full
# float arrays serialized both ways), measured as the dominant cost of
# the distributed build at 8M; callers re-attach embeddings with one
# JVM-side join keyed by vec_id instead.
_ASSIGNED_SCHEMA = "vec_id long, group long, cell long"


def _assigned_ids(vec_id, group: int, cell) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "vec_id": np.asarray(vec_id, dtype="int64"),
            "group": np.full(len(vec_id), group, dtype="int64"),
            "cell": np.asarray(cell, dtype="int64"),
        }
    )


def _assign_sqdist_in_group(key, left: pd.DataFrame, right: pd.DataFrame):
    """Cogroup kernel: one group's corpus rows × that group's fine
    shard — ONE rounded-squared-distance matrix per cogroup, first
    minimum over cells sorted ascending (exactly the (dist asc, cell
    asc) convention of similarity._assign_cells)."""
    if left.empty or right.empty:
        return _assigned_ids([], 0, [])
    order = np.argsort(right["cell"].to_numpy(), kind="stable")
    cells = right["cell"].to_numpy()[order]
    c = _stack(right["c_emb"].iloc[order])
    x = _stack(left["embedding"])
    d = x[:, None, :] - c[None, :, :]
    dists = np.round(np.einsum("nkd,nkd->nk", d, d), 6)
    return _assigned_ids(
        left["vec_id"].to_numpy(), int(key[0]), cells[np.argmin(dists, axis=1)]
    )


def _assign_cells_grouped(members: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment RESTRICTED to each row's group — the
    per-group Lloyd's step of the two-level refinement, COGROUPED on
    ``group`` so each task sees one group's rows × that group's
    ~n_cells/n_groups centroids and emits one assignment row per
    vector. The previous equi-join + per-vector-window formulation
    materialized ~corpus × cells_per_group scored rows per round
    (measured ~35 GB of spill at 8M in the full-assignment regime);
    the cogroup keeps the same arithmetic (rounded squared distance,
    cell-id tie-break — :func:`_assign_sqdist_in_group`) at corpus
    volume. ``members``: (vec_id, embedding, group); ``cents``:
    (group, cell, c_emb). Returns (vec_id, embedding, group, cell) —
    embeddings re-attached with one JVM-side join keyed on vec_id."""
    ids = (
        members.select("vec_id", "embedding", "group")
        .groupBy("group")
        .cogroup(cents.select("group", "cell", "c_emb").groupBy("group"))
        .applyInPandas(_assign_sqdist_in_group, _ASSIGNED_SCHEMA)
    )
    return ids.join(
        members.select("vec_id", "embedding"), "vec_id"
    ).select("vec_id", "embedding", "group", "cell")


def _refined_quantizers_2level(
    spark: SparkSession,
    emb: DataFrame,
    n_groups: int,
    n_cells: int,
    refine_iters: int,
    train_fraction: float | None = None,
):
    """Train BOTH two-level quantizer levels with Lloyd's k-means — the
    production refinement the prefix convention defers to, composable
    with either build path:

    - **coarse**: global ``similarity.kmeans_centroids`` with
      k = n_groups (exactly build_ann_index's ``refine_iters`` path) —
      the trained group table is metadata-sized and collected, the same
      contract the distributed build already has for the coarse level.
    - **fine**: per-group Lloyd's, fully distributed — corpus rows are
      assigned to their (cosine-)nearest refined group ONCE, each
      group's fine shard initializes from its first n_cells/n_groups
      member ids, and every round is a group-equi-join assignment
      (:func:`_assign_cells_grouped`) + the kmeans_centroids recompute
      aggregate. The fine quantizer never reaches the driver here.

    Cell ids are the INIT member's vec_id (globally unique since a
    vector belongs to one group), so gmap falls out of the table with
    no matmul. Prefix centroids put cell boundaries wherever the first
    N corpus vectors happen to sit — on clustered real data that packs
    most of a skewed corpus into a few over-full cells (a probed-IO hot
    spot AND a recall hole, measured in tools/ann2level_rehearsal.py);
    Lloyd's rounds move centroids toward the data's actual modes so
    cell volume tracks density. Quantizer tables are written as
    DOUBLES: refined components are round(avg, 6) values that a float32
    cast would perturb, and the DuckDB twin computes in doubles — the
    prefix path keeps float (its values are exact in either type).
    Group membership for training uses the SAME rounded-cosine /
    lower-id convention as the final composed assignment, so training
    shards and search shards agree.

    ``train_fraction`` is the mini-batch k-means path kmeans_refine's
    docstring prescribes for corpus scale: BOTH levels' Lloyd's
    statistics (init, assignment rounds, centroid recomputes) run over
    a deterministic hash sample of that fraction (plus the vec_id <
    n_groups prefix the coarse init needs), while the FINAL corpus
    assignment — the standard build machinery downstream — still
    touches every row. The full-corpus assignment round materializes
    ~corpus x cells_per_group rows through a per-vector window, which
    at 8M spilled ~35 GB; the sampled rounds keep the identical plan at
    sample volume, and quantizers trained on a fixed-rate sample are
    statistically the same centroids (the 8M skew rehearsal's balance
    and recall numbers are measured THROUGH this path). None (the
    registered-fixture default) trains on everything, which is what the
    relational twin unrolls.

    Returns (live_groups, g_live_mat, fine_df) where fine_df is
    (cell, group, c_emb array<double>) — quantizer-sized, eagerly
    checkpointed so callers can consume it after members unpersist."""
    from pyspark.sql import Window

    train = _train_sample(emb, train_fraction, n_groups)
    g_rows = S.kmeans_centroids(train, n_groups, refine_iters + 1).collect()
    g_rows.sort(key=lambda r: r.cell)
    live = [int(r.cell) for r in g_rows]
    g_mat = np.array([r.c_emb for r in g_rows], dtype=np.float64)

    nearest = _nearest_group_udf(np.array(live, dtype="int64"), g_mat)
    members = train.select(
        "vec_id", "embedding", nearest(F.col("embedding")).alias("group")
    ).persist()
    try:
        k_g = max(1, n_cells // n_groups)
        w = Window.partitionBy("group").orderBy("vec_id")
        cents = (
            members.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_g)
            .select(
                "group",
                F.col("vec_id").alias("cell"),
                S.as_double(F.col("embedding")).alias("c_emb"),
            )
        )
        for _ in range(refine_iters):
            assigned = _assign_cells_grouped(members, cents)
            cents = (
                assigned.select(
                    "group",
                    "cell",
                    F.posexplode("embedding").alias("dim", "val"),
                )
                .groupBy("group", "cell", "dim")
                .agg(
                    F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
                )
                .groupBy("group", "cell")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "c"))
                    ).alias("s")
                )
                .select(
                    "group",
                    "cell",
                    F.transform("s", lambda x: x["c"]).alias("c_emb"),
                )
            )
        # quantizer-sized; eager checkpoint so the fine table survives
        # the members unpersist without re-deriving the training rounds
        fine_df = cents.select("cell", "group", "c_emb").localCheckpoint(
            eager=True
        )
    finally:
        members.unpersist()
    return live, g_mat, fine_df


def _write_coarse(
    index_dir: str, groups: list[int], g_rows: np.ndarray, elem: pa.DataType
) -> None:
    """Land ``coarse/`` (group, g_emb array<elem>) from ``groups`` and
    their rows. The two-level refined quantizers are DOUBLES (see
    _refined_quantizers_2level), every other build's floats."""
    _write_pa(
        index_dir,
        "coarse",
        pa.table(
            {
                "group": pa.array(groups, pa.int64()),
                "g_emb": _list_array(
                    np.asarray(g_rows).astype(elem.to_pandas_dtype())
                ),
            }
        ),
        overwrite=True,
    )


def _write_fine(
    index_dir: str,
    cells: np.ndarray,
    cell_groups: np.ndarray,
    c_mat: np.ndarray,
    elem: pa.DataType,
) -> None:
    """Land ``fine/`` (cell, c_emb array<elem>) partitioned by group."""
    _write_pa(
        index_dir,
        "fine",
        pa.table(
            {
                "cell": pa.array(cells, pa.int64()),
                "c_emb": _list_array(c_mat.astype(elem.to_pandas_dtype())),
                "group": pa.array(cell_groups, pa.int64()),
            }
        ),
        ("group",),
        overwrite=True,
    )


def build_ann_index_2level(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_groups: int | None = N_GROUPS_2L,
    n_cells: int | None = N_CELLS_2L,
    refine_iters: int = 0,
    train_fraction: float | None = None,
    residual: bool | str = "auto",
) -> None:
    """Build the sharded-quantizer index: coarse groups over fine cells.

    Quantizers default to deterministic prefixes of the corpus (coarse
    = first ``n_groups`` vectors, fine = first ``n_cells``), the same
    oracle-reproducible convention as ivf_cells; ``refine_iters > 0``
    trains BOTH levels with Lloyd's k-means instead
    (:func:`_refined_quantizers_2level` — the production refinement
    build_ann_index already has), allocating n_cells/n_groups fine
    cells per live group; the layout and readers never care what
    produced the centroid tables. ``n_groups=None`` sizes both levels
    with :func:`auto_quantizer_shape` (one count job); ``n_groups=1`` is
    one coarse shard, the shape :func:`build_ann_index` writes. Corpus
    assignment is ONE map-only pass (:func:`_nearest_2level` — no join,
    no shuffle; the only exchange is the partitionBy write), feeding
    BOTH partitioned tables: ``raw/``
    (the exact-rerank arm) and ``vectors/`` (PQ codes — the arm a
    billion-vector probe actually scans; codebook convention identical
    to :func:`build_ann_index`, so quantizer immutability and code
    comparability carry over verbatim)."""
    local = _collect_small(spark, emb)
    if n_groups is None or n_cells is None:
        auto_g, auto_c = auto_quantizer_shape(
            emb.count() if local is None else local.num_rows
        )
        n_groups = auto_g if n_groups is None else n_groups
        n_cells = auto_c if n_cells is None else n_cells
    _start_build(index_dir)
    if refine_iters > 0:
        groups, g_mat, fine_df = _refined_quantizers_2level(
            spark, emb, n_groups, n_cells, refine_iters, train_fraction
        )
        # driver build contract: the fine quantizer is collectible
        # (<= n_cells rows — the same feasibility clamp as the prefix
        # path's pool collect)
        fine = fine_df.toArrow().sort_by("cell")
        cells = fine["cell"].to_numpy().astype("int64")
        cell_groups = fine["group"].to_numpy().astype("int64")
        c_mat = _matrix(fine["c_emb"])
        # coarse stores ALL trained groups: query probes rank over the
        # full trained set (the twin's g1), including a group that won
        # no cosine members (it then simply has no fine shard to scan).
        _write_coarse(index_dir, groups, g_mat, pa.float64())
        _write_fine(index_dir, cells, cell_groups, c_mat, pa.float64())
    else:
        mat = _matrix(_prefix(emb, local, max(n_groups, n_cells))["embedding"])
        # corpora whose low ids are sparse (a half-built fixture, a
        # slice) may yield fewer quantizer rows than requested — clamp,
        # as build_ann_index's filter(vec_id < n) implicitly does
        n_groups = min(n_groups, len(mat))
        n_cells = min(n_cells, len(mat))
        g_mat = mat[:n_groups]
        c_mat = mat[:n_cells]
        groups = list(range(n_groups))
        cells = np.arange(n_cells, dtype="int64")
        cell_groups = _group_of_cells(c_mat, g_mat)
        live = sorted({int(g) for g in cell_groups})
        _write_coarse(index_dir, live, g_mat[live], pa.float32())
        _write_fine(index_dir, cells, cell_groups, c_mat, pa.float32())
    # one composed-assignment pass feeds every partitioned table
    _land(
        spark, index_dir, emb, local,
        _assigner_2level(groups, g_mat, cells, cell_groups, c_mat),
        residual, "overwrite",
    )


def _assigner_2level(
    groups: list[int],
    g_mat: np.ndarray,
    cells: np.ndarray,
    cell_groups: np.ndarray,
    c_mat: np.ndarray,
) -> _Assigner:
    """The composed two-level assignment (:func:`_nearest_2level`)
    against the coarse rows ``groups``/``g_mat`` and the fine cells
    sorted by id (``cells``, their ``cell_groups``, FLOAT rows
    ``c_mat``). It ranks over the cell-owning groups only: a group with
    no fine shard can hold no vector."""
    owning = sorted({int(g) for g in cell_groups})
    nearest = _nearest_2level(
        np.array(owning, dtype="int64"),
        g_mat[np.array([groups.index(g) for g in owning])],
        {g: (cells[cell_groups == g], c_mat[cell_groups == g]) for g in owning},
    )
    return _Assigner(nearest, cells, c_mat, cell_groups)


# Per-group fine-centroid shards, loaded lazily: a reader fetches only
# the groups it probes. The dict is cached against the ``fine/`` files,
# so a rebuild (or a compaction rewrite) starts a fresh one.
def _fine_shards(
    spark: SparkSession, index_dir: str, groups: list[int]
) -> dict[int, list]:
    """(cell, c_emb) rows of the requested groups' fine shards; only
    groups not yet loaded for the current ``fine/`` files hit the
    (partition-pruned) table."""
    cache = M.cached_table(index_dir, "fine", dict)
    missing = sorted(g for g in groups if g not in cache)
    if missing:
        t = _read_pa(
            index_dir, "fine", pads.field("group").isin(missing)
        ).sort_by("cell")
        mat = _matrix(t["c_emb"])
        for g in missing:
            cache[g] = []
        for g, c, row in zip(t["group"].to_pylist(), t["cell"].to_pylist(), mat):
            cache[int(g)].append((int(c), row))
    return {g: cache.get(g, []) for g in groups}


def _read_coarse(spark: SparkSession, index_dir: str):
    def load():
        _check_layout(index_dir)  # every reader passes here
        t = _read_pa(index_dir, "coarse").sort_by("group")
        return t["group"].to_pylist(), _matrix(t["g_emb"])

    return M.cached_table(index_dir, "coarse", load)


# --------------------------------------------------------------------------
# Distributed 2-level build — the path past the AUTO_MAX_CELLS_2L clamp.
# The driver-side build (build_ann_index_2level) collects the quantizer
# pool and broadcasts every fine centroid into the assignment UDF: fine
# to ~1M cells, a wall at the 16.7M-cell shapes the (group, cell) layout
# itself supports. This build keeps the fine quantizer DISTRIBUTED end
# to end — only the ``n_groups`` coarse rows (<= AUTO_MAX_CELLS ~ 2 MB)
# ever reach the driver or an executor closure:
#
# - gmap (cell -> group) is a map-side pandas UDF over the fine pool
#   with the coarse matrix broadcast — n_cells x n_groups cosines as a
#   distributed pass instead of a driver matmul;
# - corpus assignment is two stages: nearest LIVE group (map-side, tiny
#   broadcast), then nearest cell WITHIN the group via a cogrouped
#   per-group matmul against the fine shard table — each group's
#   centroids stream through the cogroup (n_cells/n_groups rows), never
#   a full-quantizer broadcast. One extra corpus shuffle (by group) is
#   the price; for a one-time build at the scales that need it, the
#   right trade.
# - past the assignment it lands through :func:`_land_corpus`, the
#   landing every Spark-side build and append runs. A residual index
#   encodes in the assignment cogroup, against the shard it already
#   holds: joining every row to ``fine/`` afterwards would shuffle and
#   sort the corpus once more whenever ``fine/`` passes the broadcast
#   bound. The variance diagnostic and the codebook join only the
#   sample and the PQ_K prefix to ``fine/``.
#
# Same rounded-6 cosine / first-maximum / positional-pool conventions as
# the driver build, so the artifacts are search-identical (test-pinned,
# and the registered query's oracle is the SAME _ANN_2LEVEL_SQL).


def _nearest_group_udf(g_ids: np.ndarray, g_mat: np.ndarray):
    """Map-side nearest-group assignment (rounded cosine, ties to the
    lower group id via first-maximum over ids sorted ascending) — the
    coarse stage of the composed assignment, alone."""
    ids = np.asarray(g_ids, dtype="int64")
    assert list(ids) == sorted(ids)
    g = g_mat.astype(np.float64)
    g_norm = S.row_norms(g)
    return _cells_udf(
        lambda x: ids[S.nearest_rounded(x, S.row_norms(x), g, g_norm)]
    )


def _assign_cells_in_group(
    key, left: pd.DataFrame, right: pd.DataFrame, ic: np.ndarray | None = None
):
    """Cogroup kernel: one group's corpus rows (``left``) x that group's
    fine shard (``right``) — ONE rounded-cosine matmul over the shard's
    cells sorted ascending, first maximum (the _nearest_2level
    tie-break). Given the residual codebook ``ic``, each row's residual
    PQ ``codes`` against the chosen cell ride along: the shard already
    holds the centroid, where joining every row to ``fine/`` afterwards
    costs one more corpus shuffle and sort once ``fine/`` outgrows the
    broadcast bound."""
    if left.empty or right.empty:
        out = _assigned_ids([], 0, [])
        if ic is not None:
            out["codes"] = pd.Series(dtype=object)
        return out
    order = np.argsort(right["cell"].to_numpy(), kind="stable")
    cells = right["cell"].to_numpy()[order]
    c = _stack(right["c_emb"].iloc[order])
    x = _stack(left["embedding"])
    sel = S.nearest_rounded(x, S.row_norms(x), c, S.row_norms(c))
    out = _assigned_ids(left["vec_id"].to_numpy(), int(key[0]), cells[sel])
    if ic is not None:
        # the shard's centroids quantize once, not once per row
        ci = _int_centroids(c)[sel]
        out["codes"] = [r.tolist() for r in _pq_encode(x, ic, ci)]
    return out


def build_ann_index_2level_distributed(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_groups: int | None = N_GROUPS_2L,
    n_cells: int | None = N_CELLS_2L,
    refine_iters: int = 0,
    train_fraction: float | None = None,
    residual: bool | str = "auto",
) -> None:
    """:func:`build_ann_index_2level` with the fine quantizer kept
    distributed (module comment above) — artifacts are search-identical
    to the driver-side build; use this past ~1M fine cells, where the
    driver-side pool collect and full-quantizer UDF closure stop being
    feasible. ``residual`` — ``"auto"`` by default, the same contract
    as the driver builds — resolves on the same sample with the same
    diagnostic (:func:`_assignment_variance_ratio` against ``fine/``);
    a residual index encodes in the assignment cogroup without
    collecting the fine quantizer, and every table lands through the
    landing of every Spark-side build (:func:`_land_corpus`). The
    pool-position window
    runs over quantizer-scale rows only (<= n_cells), never the corpus.
    ``refine_iters > 0`` trains both quantizer levels with Lloyd's
    k-means (:func:`_refined_quantizers_2level` — the fine level's
    training is itself distributed: group-equi-join assignment rounds,
    never a driver-side quantizer), then lands the corpus through the
    same cogrouped assignment tail as the prefix path."""
    from pyspark.sql import Window

    if n_groups is None or n_cells is None:
        auto_g, auto_c = auto_quantizer_shape(emb.count())
        n_groups = auto_g if n_groups is None else n_groups
        n_cells = auto_c if n_cells is None else n_cells
    _start_build(index_dir)

    if refine_iters > 0:
        trained, g_mat, fine_df = _refined_quantizers_2level(
            spark, emb, n_groups, n_cells, refine_iters, train_fraction
        )
        # coarse stores ALL trained groups (probe parity with the twin);
        # assignment ranks over the cell-owning subset — a memberless
        # group never wins a corpus argmax, so winners are unchanged
        # (same reasoning as the driver build's refined branch)
        _write_coarse(index_dir, trained, g_mat, pa.float64())
        _write_fine_df(index_dir, fine_df)
        owning = sorted(
            int(r.group)
            for r in fine_df.select("group").distinct().collect()
        )
        _assign_and_land_2level_distributed(
            spark,
            emb,
            index_dir,
            owning,
            g_mat[np.array([trained.index(g) for g in owning])],
            residual,
        )
        return

    pool = (
        emb.filter(F.col("vec_id") < max(n_groups, n_cells))
        .select("vec_id", "embedding")
        .withColumn(
            "pos", F.row_number().over(Window.orderBy("vec_id")) - 1
        )
        .persist()
    )
    try:
        pool_n = pool.count()
        # sparse-prefix clamp — the driver build's len(mat) semantics
        n_groups = min(n_groups, pool_n)
        n_cells = min(n_cells, pool_n)

        g_rows = pool.filter(F.col("pos") < n_groups).collect()  # tiny
        g_rows.sort(key=lambda r: r.pos)
        g_mat_all = np.array([r.embedding for r in g_rows], dtype=np.float64)

        # distributed gmap: every fine centroid -> nearest group over
        # ALL groups (the _group_of_cells matmul as a map-side pass)
        nearest_any = _nearest_group_udf(
            np.arange(n_groups, dtype="int64"), g_mat_all
        )
        fine = (
            pool.filter(F.col("pos") < n_cells)
            .select(
                F.col("pos").alias("cell"),
                nearest_any(F.col("embedding")).alias("group"),
                F.col("embedding").cast("array<float>").alias("c_emb"),
            )
            .persist()
        )
        live = sorted(
            int(r.group) for r in fine.select("group").distinct().collect()
        )
        _write_coarse(index_dir, live, g_mat_all[live], pa.float32())
        _write_fine_df(index_dir, fine)
        fine.unpersist()
        _assign_and_land_2level_distributed(
            spark, emb, index_dir, live, g_mat_all[np.array(live)], residual
        )
    finally:
        pool.unpersist()


def _write_fine_df(index_dir: str, fine: DataFrame) -> None:
    """``fine/`` from a Spark frame (cell, group, c_emb): the distributed
    builds never collect the fine quantizer."""
    (
        fine.select("cell", "group", "c_emb")
        .repartition("group")
        .write.mode("overwrite")
        .partitionBy("group")
        .parquet(M.table_path(index_dir, "fine"))
    )


def _assign_and_land_2level_distributed(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    live: list[int],
    g_live_mat: np.ndarray,
    residual: bool | str,
) -> None:
    """The distributed builds' shared tail: nearest LIVE group map-side
    (tiny broadcast), nearest cell WITHIN the group via the cogrouped
    per-group matmul against the just-written fine shards; the cogroup
    emits ids (and a residual index's codes) only, and the embeddings
    re-attach from the corpus with one JVM-side join keyed by vec_id.
    ``residual`` resolves first, on the
    sample the driver builds measure (the cogroup must know whether to
    encode); a residual index takes its codebook from the PQ_K prefix
    pushed through the same assignment and encodes in the cogroup
    itself. :func:`_land_corpus` then lands every table."""
    nearest_live = _nearest_group_udf(
        np.array(live, dtype="int64"), g_live_mat
    )
    # the partition column reads back as int (and a prefix build's cell
    # too) — cast to long so the cogroup keys match the UDF-typed group
    # (mismatched key types silently cogroup as disjoint keys and drop
    # rows) and the centroid join matches the assigned (group, cell)
    fine = spark.read.parquet(M.table_path(index_dir, "fine")).select(
        F.col("group").cast("long").alias("group"),
        F.col("cell").cast("long").alias("cell"),
        "c_emb",
    )

    def assign(rows: DataFrame, ic: np.ndarray | None = None) -> DataFrame:
        return (
            rows.select(
                "vec_id",
                "embedding",
                nearest_live(F.col("embedding")).alias("group"),
            )
            .groupBy("group")
            .cogroup(fine.groupBy("group"))
            .applyInPandas(
                functools.partial(_assign_cells_in_group, ic=ic),
                _ASSIGNED_SCHEMA + ("" if ic is None else ", codes array<int>"),
            )
        )

    def attach(ids: DataFrame, rows: DataFrame) -> DataFrame:
        return ids.join(rows.select("vec_id", "embedding"), "vec_id")

    sample = emb.filter(_sampled())
    residual = _resolve_residual_auto(
        index_dir,
        residual,
        lambda: _assignment_variance_ratio(attach(assign(sample), sample), fine),
    )
    if not residual:
        with _persisted(attach(assign(emb), emb)) as assigned:
            _land_corpus(spark, index_dir, assigned, None, False, "overwrite")
        return
    head = emb.filter(F.col("vec_id") < S.PQ_K)
    _write_codebook_of(index_dir, attach(assign(head), head).join(fine, list(_PARTS)))
    # only the codes persist: raw/ is the one table that reads embeddings
    with _persisted(assign(emb, _load_codebook(spark, index_dir))) as codes:
        _land_corpus(
            spark, index_dir, attach(codes, emb), None, True, "overwrite", codes
        )
