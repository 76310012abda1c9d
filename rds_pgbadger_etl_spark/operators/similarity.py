"""Embedding similarity search (SURVEY X3): brute-force cosine top-k and
a random-hyperplane LSH variant for scale.

Vectors are ``array<float>``; all arithmetic casts to double first so
both engines (and any partitioning) compute identical per-element
products, and similarities are rounded to 6 decimals before ranking so
fold-order float noise (~1e-15) can never reorder results.

Scale design (100 TB):
- Brute force is the correctness baseline: a broadcast of the (small)
  query set against the full corpus — embarrassingly parallel, no
  shuffle, O(corpus × queries). Right answer for ≤ thousands of queries.
- The LSH path uses ``N_TABLES`` independent random-hyperplane hash
  tables of ``N_PLANES`` bits each (deterministic ±1 planes derived from
  md5 so the oracle can reproduce them). Candidates = pairs sharing a
  bucket in ANY table; per-plane collision prob for the corpus's top-1
  sim (~0.37 ⇒ θ≈68°) is ~0.62, so 8 tables × 3 planes gives ~0.89
  recall@top1 while each table prunes candidates 2^3-fold. Recall is
  asserted against the brute-force baseline in tests/test_llm_ops.py.
  At real scale tune (tables, planes) to the corpus's similarity
  distribution: more planes ⇒ fewer candidates, more tables ⇒ recall.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PLANES = 3
N_TABLES = 8
DIM = 64


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


@F.pandas_udf(T.DoubleType())
def cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over two array columns, rounded to 6 decimals
    (same rounding the expression path / DuckDB oracle applies, so BLAS
    summation order cannot change a result)."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    x = np.vstack(a.to_numpy()).astype(np.float64)
    y = np.vstack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", x, y)
    norms = np.sqrt(np.einsum("ij,ij->i", x, x)) * np.sqrt(
        np.einsum("ij,ij->i", y, y)
    )
    return pd.Series(np.round(dots / norms, 6))


def cosine_rounded(a: Column, b: Column) -> Column:
    """JVM-expression twin of :func:`cosine_batch` — same double
    arithmetic, same round-6 convention, entirely inside whole-stage
    codegen. Used on BOUNDED stages (rerank/probe-selection inputs
    capped at |queries| × shortlist rows by construction, independent
    of corpus size), where removing the Arrow boundary and the Python
    worker round-trip outweighs BLAS: a per-element higher-order
    function over ≤ thousands of rows is sub-ms, while every
    ArrowEvalPython node costs a stage's worth of worker traffic.
    Corpus-volume scoring stays on :func:`cosine_batch` (one matmul
    per Arrow batch). Parity: 0 mismatches over the full fixture
    corpus × query cross product (pinned by test); both paths round
    at 1e-6, so the engines' fold-order noise (~1e-15) cannot
    reorder a result."""
    return F.round(cosine(as_double(a), as_double(b)), 6)


def plane_sign(table: int, plane: int, dim_index: int) -> float:
    """Deterministic ±1 entry (table, plane, dim) — md5-derived so the
    DuckDB oracle regenerates the identical hyperplanes."""
    h = hashlib.md5(f"rp:{table}:{plane}:{dim_index}".encode()).hexdigest()
    return 1.0 if int(h[:8], 16) & 1 else -1.0


def _plane_array(table: int, plane: int, dim: int) -> Column:
    return F.array(*[F.lit(plane_sign(table, plane, i)) for i in range(dim)])


def lsh_bucket(
    emb: Column, table: int, n_planes: int = N_PLANES, dim: int = DIM
) -> Column:
    """'0'/'1' signature for one hash table: sign of the projection on
    each of its planes. Projections are rounded before the sign test so
    border-line values (|proj| < 5e-7) bucket identically across engines."""
    bits = []
    for j in range(n_planes):
        proj = dot(as_double(emb), _plane_array(table, j, dim))
        bits.append(F.when(F.round(proj, 6) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


NEAR_DUP_PLANES = 6  # near-dup pairing prunes harder: 2^6 buckets/table


@functools.lru_cache(maxsize=16)
def _signs_matrix(n_tables: int, n_planes: int, dim: int):
    return np.array(
        [
            [plane_sign(t, j, i) for i in range(dim)]
            for t in range(n_tables)
            for j in range(n_planes)
        ]
    )


def lsh_bucket_strings(
    x: np.ndarray, n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> np.ndarray:
    """(n, n_tables) array of the '0'/'1' band signatures of the float64
    rows of ``x``: all (tables × planes) projections in one matmul, each
    rounded to 6 decimals before its sign test, and each table's bits
    used as an index into the 2^n_planes precomputed strings. The same
    buckets as the expression path :func:`lsh_bucket` the DuckDB oracle
    uses (pinned by test); fold-order float noise (~1e-15) cannot flip a
    bit rounded at 1e-6."""
    signs_t = _signs_matrix(n_tables, n_planes, DIM).T  # dim × (tables·planes)
    bits = np.round(x @ signs_t, 6) > 0
    weights = 1 << np.arange(n_planes - 1, -1, -1)  # first plane leads
    names = np.array(
        [format(i, f"0{n_planes}b") for i in range(2**n_planes)], dtype=object
    )
    return names[bits.reshape(len(x), n_tables, n_planes) @ weights]


def lsh_buckets_long(
    emb: DataFrame, n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> DataFrame:
    """(vec_id, embedding, table_id, bucket) — one row per hash table.

    The signatures come from :func:`lsh_bucket_strings`, one matmul per
    Arrow batch — the documented exception to the no-Python-UDF policy:
    a dense numeric kernel where interpreted per-element higher-order
    functions are 10-100× slower than BLAS.
    """
    from rds_pgbadger_etl_spark.sources.tables import rebalance

    emb = rebalance(emb)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def buckets_of(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)  # n × dim
        return pd.Series(lsh_bucket_strings(x, n_tables, n_planes).tolist())

    return emb.select(
        "vec_id",
        "embedding",
        F.posexplode(buckets_of(F.col("embedding"))).alias("table_id", "bucket"),
    )


def topk_per_key(
    scored: DataFrame, key: str | list[str], order: list[Column], k: int
) -> DataFrame:
    """Distributed per-key top-k, safe on corpus-sized scored streams.

    One rank window + filter. The straggler hazard of a bare window —
    ``Window.partitionBy(q_id)`` puts one query's ENTIRE scored stream
    in one task at 100 TB — is handled by the ENGINE, not by hand:
    Spark (3.5+/4.x, SPARK-37099) plans a ``rank <= k`` filter over a
    rank-like window as ``WindowGroupLimit Partial`` BELOW the exchange
    (each map task keeps at most k rows per key before shuffling) plus
    ``Final`` above it, so only ≤ k × n_map_partitions survivors per
    key cross the wire and reach the one sorting task — exactly the
    two-phase plan this helper hand-rolled through round 13, minus that
    version's extra full-volume Exchange + Window + 2 Sorts into
    (key, input-partition) groups (measured: 2 Exchanges → 1, same
    rows, −24 % wall on a 10M-row stream; plans/r14). The pushdown
    applies while k < spark.sql.optimizer.windowGroupLimitThreshold
    (default 1000) — every caller here passes single/double-digit k.
    The ordering must include a unique tie-break (all callers do), so
    results are deterministic and identical to the old plan's.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def topk_bounded(
    scored: DataFrame, key: str | list[str], order: list[Column], k: int
) -> DataFrame:
    """Single-window per-key top-k for inputs that are BOUNDED by
    construction — rerank stages, whose row count is ≤ |queries| ×
    shortlist regardless of corpus size. Since round 14 this is the
    same plan as :func:`topk_per_key` (whose hand-rolled two-phase
    shape the engine's WindowGroupLimit pushdown made redundant — see
    its docstring); the two names are kept because callers document
    intent with them (bounded rerank vs corpus-volume stream), and
    because the bounded contract would stay correct even on engines
    without the rank-limit pushdown."""
    return topk_per_key(scored, key, order, k)


def knn_join_cells(
    probes: DataFrame, corpus_cells: DataFrame, k: int
) -> DataFrame:
    """Per-cell local top-k for a BATCH of queries — the kNN-join
    kernel: ``probes`` is (q_id, q_emb, cell), one row per query per
    probed cell; ``corpus_cells`` is (vec_id, embedding, cell). Both
    sides cogroup on ``cell`` and each cell computes ONE matmul
    Q·Vᵀ (rounded to 6 decimals, the family convention) and keeps each
    query's local top-k by (cosine desc, vec_id asc), excluding
    vec_id == q_id. Callers take the global top-k over the ≤ k×n_probe
    survivors per query with :func:`topk_per_key`.

    This is the batch-query shape the driver-side search paths
    (``ivf_topk``/``ann_index_*_topk``, ≤ a handful of query vectors)
    don't cover: a row-pair join + per-pair cosine UDF materializes
    queries × probed-cell-volume rows through Arrow, while the cogroup
    moves each side's rows ONCE and does the scoring as dense
    linear algebra — the difference between an all-pairs explosion and
    a blocked matmul at 100 TB."""

    def per_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "q_id": pd.Series(dtype="int64"),
                "vec_id": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if left.empty or right.empty:
            return empty
        q = np.vstack(left["q_emb"].to_numpy()).astype(np.float64)
        v = np.vstack(right["embedding"].to_numpy()).astype(np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", q, q))
        vn = np.sqrt(np.einsum("ij,ij->i", v, v))
        sims = np.round((q @ v.T) / (qn[:, None] * vn[None, :]), 6)
        qids = left["q_id"].to_numpy()
        vids = right["vec_id"].to_numpy()
        out_q: list[int] = []
        out_v: list[int] = []
        out_s: list[float] = []
        for i in range(sims.shape[0]):
            ss = sims[i].copy()
            ss[vids == qids[i]] = -np.inf  # self-exclusion
            # O(n) top-k cut, then an exact (cosine desc, vec_id asc)
            # sort of the small survivor set only — a full per-query
            # lexsort of the cell is the kernel's dominant cost at GB
            # scale (measured 35 s -> seconds for 2k queries x 125k
            # vectors). ``>= kth value`` keeps ALL boundary ties, so
            # the final tie-break is identical to the full sort.
            if ss.size > k:
                vk = np.partition(ss, ss.size - k)[ss.size - k]
                sel = np.flatnonzero((ss >= vk) & np.isfinite(ss))
            else:
                sel = np.flatnonzero(np.isfinite(ss))
            vv2, ss2 = vids[sel], ss[sel]
            top = np.lexsort((vv2, -ss2))[:k]
            out_q.extend([qids[i]] * len(top))
            out_v.extend(vv2[top])
            out_s.extend(ss2[top])
        return pd.DataFrame(
            {"q_id": out_q, "vec_id": out_v, "cosine": out_s}
        )

    return (
        probes.groupby("cell")
        .cogroup(corpus_cells.groupby("cell"))
        .applyInPandas(per_cell, "q_id long, vec_id long, cosine double")
    )


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k per query vector, query side broadcast."""
    from rds_pgbadger_etl_spark.sources.tables import rebalance

    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    joined = (
        rebalance(emb).crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return topk_per_key(
        joined, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


MRL_DIMS = 16  # default truncation width (of DIM=64): 4× less probed IO
MRL_SHORTLIST = 25  # truncated-shortlist size ahead of the exact rerank


def truncated_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, dims: int = MRL_DIMS
) -> DataFrame:
    """Matryoshka-style truncated-dimension search: exact cosine top-k
    computed over only the FIRST ``dims`` components of every vector.

    MRL-trained embeddings order information by prefix, so the leading
    slice is itself a usable (coarser) embedding; truncating 64 → 16
    dims cuts the SCORED bytes and distance FLOPs 4× with no index
    artifact at all — the cheapest rung of the dimension ladder, the
    way SQ8 is the cheapest rung of the precision ladder. The slice
    happens in the projection (``F.slice``), so the parquet scan still
    reads the one embedding column but every downstream exchange and
    the Arrow batches into the cosine kernel carry short vectors; a
    deployment that standardizes on a prefix width would materialize
    the sliced column and get the scan-side savings too.

    Same plan as :func:`brute_force_topk` (broadcast queries, no
    shuffle, two-phase top-k) and the same rounding convention, so the
    DuckDB twin is the brute SQL over ``list_slice``.

    ZERO-PREFIX GUARD: a vector whose leading ``dims`` components are
    all zero has no direction in the truncated space — its cosine is
    0/0 = NaN, and Spark sorts NaN above every real similarity under
    ``sim DESC``, so one degenerate row would outrank every true
    neighbor. Such rows are filtered before ranking (as candidates AND
    as queries: a zero-prefix query's whole result would be NaN), and
    the SQL twins carry the same ``list_filter`` guard so the two
    engines' NaN conventions never meet the comparison.
    """
    sliced = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, dims).alias("embedding")
    ).filter(F.exists("embedding", lambda x: x != F.lit(0.0)))
    return brute_force_topk(sliced, query_ids, k)


def truncated_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dims: int = MRL_DIMS,
    shortlist: int = MRL_SHORTLIST,
) -> DataFrame:
    """Two-stage matryoshka search: truncated-dim shortlist, exact
    full-dimension rerank — the adaptive-retrieval composition (coarse
    prefix pass over everything, full-precision pass over almost
    nothing).

    Stage 1 is :func:`truncated_topk` at ``shortlist`` ≫ k: the only
    pass that touches the whole corpus, at ``dims/DIM`` of the scoring
    cost. Stage 2 re-reads full vectors for ≤ queries × shortlist rows
    via a broadcast join — row-pruned map-side on the flat table (the
    scan bytes are only cut when the layout can prune: the artifact
    variants :func:`~...ann_index.ann_index_truncated_topk` restrict
    both passes to the probed cell partitions) — and reranks by exact
    cosine. Returned ``sim`` is the full-dimension score, so
    the result equals :func:`brute_force_topk` whenever every true
    top-k member survives the truncated shortlist (guaranteed at
    ``shortlist`` ≥ corpus; measured in the registered recall sweep
    otherwise)."""
    short = truncated_topk(emb, query_ids, shortlist, dims).select(
        "q_id", "vec_id"
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    rescored = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            # bounded rerank (≤ queries × shortlist rows): JVM cosine +
            # single-window top-k — no Arrow boundary, one less exchange
            cosine_rounded(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return topk_bounded(
        rescored, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


def filtered_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Metadata-filtered vector search: exact cosine top-k restricted to
    candidates sharing the query's label — the vector-database
    "filtered search" pattern (predicate + similarity in one query).

    The filter becomes part of the JOIN KEY (label equality) instead of
    a post-scan predicate, so at scale a corpus partitioned by label
    turns this into a partition-pruned scan of only the matching
    label's vectors — the selectivity of the predicate directly prunes
    I/O, which post-filtering after a global top-k cannot do (it also
    under-fills k when the filter is selective)."""
    from rds_pgbadger_etl_spark.sources.tables import rebalance

    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    joined = (
        rebalance(emb)
        .join(F.broadcast(q), F.col("label") == F.col("q_label"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return topk_per_key(
        joined, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a bucket with the query in any
    of the hash tables; exact cosine is computed only on candidates.

    The bucket join and pair-dedup carry only ids (the wide embedding
    arrays rejoin afterwards by key) so the shuffle rows stay narrow —
    at 100 TB the candidate-pair stream is the dominant shuffle.

    ``buckets`` lets callers inject a pre-materialized bucket table
    (the staging-table pattern — at scale the bucketing pass is written
    once and every search reads it).
    """
    # persisted: the query side derives from the same bucket table it
    # joins against — without materialization the bucketing UDF runs
    # twice over the full corpus
    b = lsh_buckets_long(emb).persist() if buckets is None else buckets
    q = b.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), "table_id", "bucket"
    )
    cands = (
        b.select("vec_id", "table_id", "bucket")
        .join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .dropDuplicates(["q_id", "vec_id"])
    )
    qe = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    scored = (
        cands.join(F.broadcast(qe), "q_id")
        .join(emb, "vec_id")
        .select(
            "q_id",
            "vec_id",
            cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return topk_per_key(
        scored, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


N_CENTROIDS = 16
N_PROBE = 2


def nearest_cell_udf(cent_matrix: np.ndarray):
    """Pandas UDF assigning each vector to its nearest centroid by
    rounded cosine, ties to the LOWER cell id (np.argmax returns the
    first maximum) — the exact (sim desc, cell asc) top-1 convention of
    the window/SQL formulation. One matmul per Arrow batch against the
    closed-over quantizer matrix: the documented dense-numeric-kernel
    exception to the no-Python-UDF policy (see lsh_buckets_long)."""
    c = cent_matrix.astype(np.float64)
    c_norm = row_norms(c)

    @F.pandas_udf(T.LongType())
    def nearest(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        x = np.vstack(col.to_numpy()).astype(np.float64)
        return pd.Series(
            nearest_rounded(x, row_norms(x), c, c_norm).astype("int64")
        )

    return nearest


def row_norms(m: np.ndarray) -> np.ndarray:
    """L2 norm of each row of ``m``."""
    return np.sqrt(np.einsum("ij,ij->i", m, m))


def nearest_rounded(
    x: np.ndarray, x_norm: np.ndarray, c: np.ndarray, c_norm: np.ndarray
) -> np.ndarray:
    """Position of each row of ``x``'s nearest row of ``c`` by cosine
    rounded to 6 decimals, ties to the lower position (np.argmax's first
    maximum) — the (sim desc, id asc) top-1 convention every IVF
    assignment shares, given ``c`` sorted by id. Norms come from
    :func:`row_norms`."""
    sims = np.round((x @ c.T) / (x_norm[:, None] * c_norm[None, :]), 6)
    return np.argmax(sims, axis=1)


def ivf_cells(emb: DataFrame, n_centroids: int = N_CENTROIDS) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Centroids are the first ``n_centroids`` vectors by id — a
    deterministic sample both engines can reproduce; production IVF
    refines them with :func:`kmeans_refine` below, which changes only
    the centroid table, never the plan shape.

    Assignment is MAP-ONLY: the quantizer is metadata-sized, so it is
    collected once and closed over in a vectorized kernel — the plan is
    scan → project, no join, no aggregate, NO SHUFFLE (pinned by
    test_llm_ops). The previous formulation (broadcast cross join +
    per-vector window rank) shuffled corpus × n_centroids scored rows —
    16× the corpus — on what is the expensive pass of an index build at
    100 TB. Cosines round to 6 decimals before the argmax, the same
    convention as cosine_batch, so fold-order noise cannot flip an
    assignment and the DuckDB oracle reproduces it exactly.
    """
    from rds_pgbadger_etl_spark.sources.tables import rebalance

    cent_rows = (
        emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows.sort(key=lambda r: r.vec_id)
    cent_matrix = np.array([r.embedding for r in cent_rows])
    nearest = nearest_cell_udf(cent_matrix)
    return rebalance(emb).select(
        "vec_id", "embedding", nearest(F.col("embedding")).alias("cell")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    cells: DataFrame | None = None,
) -> DataFrame:
    """X3 scale path: probe the ``n_probe`` nearest cells per query and
    compute exact cosine only inside them — the search touches
    ~n_probe/n_centroids of the corpus. At 100 TB, partition the
    assignment table BY cell so a probe is a partition-pruned scan.
    ``cells`` lets callers pass a materialized assignment (the staging
    table at scale; a shared persist() locally) instead of recomputing.
    """
    cells = ivf_cells(emb, n_centroids) if cells is None else cells
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "cell", cosine_batch(F.col("q_emb"), F.col("c_emb")).alias("sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "cell")
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine_batch(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    return topk_per_key(
        scored, "q_id", [F.col("sim").desc(), F.col("vec_id")], k
    )


@F.pandas_udf(T.DoubleType())
def sqdist_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized squared euclidean distance over two array columns,
    rounded to 6 decimals (engine-stable like :func:`cosine_batch`)."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    x = np.vstack(a.to_numpy()).astype(np.float64)
    y = np.vstack(b.to_numpy()).astype(np.float64)
    d = x - y
    return pd.Series(np.round(np.einsum("ij,ij->i", d, d), 6))


KMEANS_K = 8
KMEANS_ITERS = 2


def _sqdist_argmin_udf(cell_ids: list[int], cent_mat: np.ndarray):
    """Map-only nearest-centroid assignment by rounded squared L2 —
    kmeans' analogue of :func:`nearest_cell_udf`: one distance matrix
    per Arrow batch against the closure-held centroid matrix, argmin
    after the round-6 (ties to the LOWER cell id — first minimum over
    ids sorted ascending, the exact (dist asc, cell asc) top-1
    convention of the previous window formulation). Returns
    struct<cell, dist> so one kernel pass feeds both columns."""
    ids = np.asarray(cell_ids, dtype=np.int64)
    c = cent_mat.astype(np.float64)

    @F.pandas_udf("struct<cell: long, dist: double>")
    def assign(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"cell": [], "dist": []})
        x = np.vstack(col.to_numpy()).astype(np.float64)
        d = x[:, None, :] - c[None, :, :]
        dists = np.round(np.einsum("nkd,nkd->nk", d, d), 6)
        pos = np.argmin(dists, axis=1)
        return pd.DataFrame(
            {
                "cell": ids[pos],
                "dist": dists[np.arange(len(x)), pos],
            }
        )

    return assign


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, MAP-ONLY: the metadata-sized
    centroid table (k rows) is collected once and closed over in a
    vectorized kernel — scan → project, no join, no window, NO SHUFFLE.
    The previous broadcast-crossJoin + per-vector-window formulation
    shuffled corpus × k scored rows per Lloyd iteration — k× the corpus
    on what is the expensive pass of a refinement at 100 TB (the same
    fix :func:`ivf_cells` documents for the IVF quantizer). Rounded
    distances + first-minimum ties keep the argmin bit-identical to the
    window plan (same round-6 + (dist asc, cell asc) convention)."""
    from rds_pgbadger_etl_spark.sources.tables import rebalance

    rows = cents.collect()
    rows.sort(key=lambda r: r.cell)
    ids = [int(r.cell) for r in rows]
    mat = np.array([r.c_emb for r in rows], dtype=np.float64)
    assign = _sqdist_argmin_udf(ids, mat)
    return (
        rebalance(emb)
        .select("vec_id", "embedding", assign(F.col("embedding")).alias("a"))
        .select(
            "vec_id",
            "embedding",
            F.col("a.cell").alias("cell"),
            F.col("a.dist").alias("dist"),
        )
    )


def kmeans_refine(
    emb: DataFrame, k: int = KMEANS_K, n_iters: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus: deterministic init
    (the first ``k`` vectors by id), then ``n_iters`` rounds of
    assign → recompute-centroid. Returns each vector's final
    (cluster, dist).

    This trains the IVF coarse quantizer (:func:`ivf_cells` documents
    that production IVF k-means-refines its centroid table — this is
    that refinement). Per iteration: assignment is map-only (one
    vectorized kernel over the corpus against the collected
    metadata-sized centroid table — no join, no shuffle), and the
    centroid update
    shuffles only (cell, dim, partial-sum) triples via the posexplode
    hash aggregate — map-side combinable, so the shuffle is O(k × dims
    × partitions), independent of corpus size. Centroid components
    round to 6 decimals so both engines' fold orders agree. At 100 TB
    run the update on a fixed-rate hash sample (mini-batch k-means) —
    same plan, sampled input; iteration count stays a small constant,
    so the whole refinement is ~n_iters corpus scans."""
    return _assign_cells(emb, kmeans_centroids(emb, k, n_iters)).select(
        "vec_id", F.col("cell").alias("cluster"), "dist"
    )


def kmeans_centroids(
    emb: DataFrame, k: int = KMEANS_K, n_iters: int = KMEANS_ITERS
) -> DataFrame:
    """The centroid table :func:`kmeans_refine` trains — deterministic
    init (first ``k`` vectors), ``n_iters - 1`` assign→recompute rounds
    — exposed so the persisted ANN index can be built on REFINED
    centroids (ann_index.build_ann_index(refine_iters=...)) instead of
    the raw deterministic sample. Returns (cell, c_emb<array<double>>)."""
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), as_double(F.col("embedding")).alias("c_emb")
    )
    for _ in range(n_iters - 1):
        assigned = _assign_cells(emb, cents)
        cents = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("s"))
            .select("cell", F.transform("s", lambda x: x["c"]).alias("c_emb"))
        )
    return cents


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """X2 embedding-cosine near-dup pairs via any-table LSH collision.

    Ids-only bucket self-join + pair-dedup first; embeddings rejoin by
    key only for the surviving candidate pairs (narrow shuffles). Uses
    more planes than the top-k path: candidate volume is O(n²/2^planes)
    per table, and near-dup pairs (high sim) still collide often.
    """
    ids = (
        lsh_buckets_long(emb, n_planes=NEAR_DUP_PLANES)
        .select("vec_id", "table_id", "bucket")
        .persist()  # self-joined below; avoid bucketing the corpus twice
    )
    pairs = (
        ids.select(F.col("vec_id").alias("a"), "table_id", "bucket")
        .join(ids.select(F.col("vec_id").alias("b"), "table_id", "bucket"),
              ["table_id", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"))
    return (
        pairs.join(ea, "a")
        .join(eb, "b")
        # candidate volume is corpus-proportional (LSH collisions), so
        # this stays on the Arrow kernel: the JVM higher-order cosine
        # is interpreted per element and measured 3x SLOWER here
        # (r14 A/B/A) — the r13 bounded-rerank boundary does not apply
        .select("a", "b", cosine_batch(F.col("emb_a"), F.col("emb_b")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression ANN path. A 64-dim
# float32 vector (256 B) is encoded as PQ_M sub-codes of log2(PQ_K) bits
# (here 4 × 4 bits = 2 B, 128× smaller), and search runs against a
# per-query lookup table (ADC: asymmetric distance computation) instead
# of the raw vectors. Complements the IVF path above: production systems
# compose them as IVF-PQ (probe cells coarsely, rank within cells by ADC).
#
# Determinism contract: all distances are computed in the INTEGER domain
# (components quantized as round(x * PQ_INT_SCALE), squared-distance sums
# are exact bigints), so codes, histograms and ADC rankings are
# bit-identical across engines — no float fold-order tolerance needed
# anywhere. Codebook = the first PQ_K vectors' subvectors (same
# deterministic-sample convention as ivf_cells; kmeans_refine is the
# production refinement).

PQ_M = 4           # subspaces
PQ_K = 16          # centroids per subspace (4-bit codes)
PQ_SUB = DIM // PQ_M
PQ_INT_SCALE = 1000


def pq_long_form(emb: DataFrame) -> DataFrame:
    """(vec_id, subspace, dim, iv): integer-quantized components in long
    form. Stays entirely in whole-stage codegen (posexplode + arithmetic,
    no higher-order functions)."""
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        (F.col("pos") / PQ_SUB).cast("int").alias("subspace"),
        (F.col("pos") % PQ_SUB).alias("dim"),
        F.round(F.col("xf").cast("double") * PQ_INT_SCALE).cast("long").alias("iv"),
    )


def pq_distances(emb: DataFrame, ids: DataFrame | None = None) -> DataFrame:
    """Exact integer squared distance of every (vector, centroid) pair per
    subspace: (vec_id, subspace, cell, sq).

    Scale shape: centroids are PQ_M × PQ_K rows — always broadcast; the
    ×PQ_K fan-out happens map-side and collapses in one partial-agg'd
    hash aggregate, so the only shuffle is the (vec_id, subspace) agg.
    For production-size codebooks (m=16, k=256 ⇒ ×4096 fan-out) swap the
    inner product for a Pandas-UDF batch kernel like cosine_batch; this
    long form is the oracle-checkable reference path.
    """
    lf = pq_long_form(emb)
    cents = (
        lf.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").cast("int").alias("cell"),
            "subspace",
            "dim",
            F.col("iv").alias("ic"),
        )
    )
    src = lf if ids is None else lf.join(F.broadcast(ids), "vec_id")
    d = F.col("iv") - F.col("ic")
    return (
        src.join(F.broadcast(cents), ["subspace", "dim"])
        .groupBy("vec_id", "subspace", "cell")
        .agg(F.sum(d * d).alias("sq"))
    )


def pq_codes(emb: DataFrame) -> DataFrame:
    """Encode: per (vector, subspace) the nearest centroid id and its
    distortion — (vec_id, subspace, code, sq). Ties break on the lower
    centroid id. The argmin is a single bigint ``min(sq * PQ_K + cell)``
    rather than ``min(struct(sq, cell))``: struct mins fall back to
    SortAggregate, the packed integer stays in codegen HashAggregate
    with map-side partial aggregation (exact: integer distances, and
    sq * PQ_K never overflows — |iv| ≤ PQ_INT_SCALE ⇒ sq ≤ 6.4e7)."""
    best = (
        pq_distances(emb)
        .groupBy("vec_id", "subspace")
        .agg(F.min(F.col("sq") * PQ_K + F.col("cell")).alias("packed"))
    )
    return best.select(
        "vec_id",
        "subspace",
        (F.col("packed") % PQ_K).cast("int").alias("code"),
        F.expr(f"packed div {PQ_K}").alias("sq"),
    )


def _half_up(p: np.ndarray) -> np.ndarray:
    """HALF_UP rounding (away from zero on .5) — the exact semantics of
    Spark's ``round()`` (BigDecimal HALF_UP) so kernel-quantized
    components match ``pq_long_form``'s ``F.round(xf * SCALE)`` bit for
    bit; np.round would round half-to-even and flip components landing
    exactly on .5."""
    return np.where(
        p >= 0, np.floor(p + 0.5), -np.floor(-p + 0.5)
    ).astype(np.int64)


def pq_encode_udf(ic: np.ndarray):
    """Vectorized PQ encoder closed over the integer codebook
    ``ic[m][k][sub]``: per Arrow batch, quantize components (HALF_UP,
    PQ_INT_SCALE) and argmin exact integer squared distances per
    subspace (ties to the lower cell — np.argmin returns the first
    minimum, matching pq_codes' packed-integer min). Returns the m
    codes as one array column."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)
        out = pq_argmin(_half_up(x * PQ_INT_SCALE), ic)
        return pd.Series([row.tolist() for row in out])

    return encode


def pq_argmin(iq: np.ndarray, ic: np.ndarray) -> np.ndarray:
    """(n, m) int32 PQ codes of the integer rows ``iq`` against the
    integer codebook ``ic[m][k][sub]``: per subspace, the exact integer
    squared distance to every centroid (no float anywhere) and its first
    minimum (ties to the lower cell)."""
    m, _k, sub = ic.shape
    out = np.empty((len(iq), m), dtype=np.int32)
    for s in range(m):
        qs = iq[:, s * sub : (s + 1) * sub]
        d = ((qs[:, None, :] - ic[s][None, :, :]) ** 2).sum(axis=2)
        out[:, s] = np.argmin(d, axis=1)
    return out


def pq_codes_fast(emb: DataFrame, ic: np.ndarray | None = None) -> DataFrame:
    """(vec_id, subspace, code) via the vectorized encoder — the
    production encode pass :func:`pq_distances` documents ("for
    production-size codebooks swap the inner product for a Pandas-UDF
    batch kernel"). MAP-ONLY: no join, no aggregate, no shuffle — the
    long-form reference path fans out corpus x dims x k rows through two
    aggregates, which is the right oracle-checkable formulation and the
    wrong 100 TB one. Bit-identical codes are pinned by
    tests/test_llm_ops.py::test_pq_codes_fast_matches_reference (integer
    distance domain + HALF_UP quantization + first-minimum ties).

    ``ic`` is the integer codebook ``[m][k][sub]``; derived from the
    corpus' first PQ_K vectors (the deterministic-sample convention)
    when not given.
    """
    if ic is None:
        rows = (
            emb.filter(F.col("vec_id") < PQ_K)
            .select("vec_id", "embedding")
            .collect()
        )
        rows.sort(key=lambda r: r.vec_id)
        flat = _half_up(
            np.array([r.embedding for r in rows], dtype=np.float64)
            * PQ_INT_SCALE
        )  # (k, dim)
        ic = np.stack(
            [flat[:, s * PQ_SUB : (s + 1) * PQ_SUB] for s in range(PQ_M)]
        )  # (m, k, sub)
    encode = pq_encode_udf(ic)
    return emb.select(
        "vec_id",
        F.posexplode(encode(F.col("embedding"))).alias("subspace", "code"),
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC search: approximate distance(query, v) = Σ_s LUT[s][code_s(v)]
    where LUT holds the query's exact sub-distances to each centroid.

    The corpus is touched only through its codes (PQ_M small ints per
    vector) — at 100 TB that's the difference between scanning 256 B and
    2 B per vector; the LUT (queries × PQ_M × PQ_K rows) broadcasts.
    Output ranking is exact-deterministic (integer sums, vec_id
    tie-break).
    """
    q = emb.filter(F.col("vec_id").isin(query_ids)).select("vec_id")
    lut = pq_distances(emb, ids=q).select(
        F.col("vec_id").alias("q_id"),
        "subspace",
        F.col("cell").alias("code"),
        F.col("sq").alias("d"),
    )
    codes = (pq_codes(emb) if codes is None else codes).select(
        "vec_id", "subspace", "code"
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return topk_per_key(scored, "q_id", [F.col("adc_dist"), F.col("vec_id")], k)


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    cells: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the production-scale composition — probe the coarse
    quantizer's nearest cells (IVF, cosine), then rank ONLY the members
    of probed cells by PQ-ADC distance. At 100 TB the scan cost is
    (n_probe / n_centroids) of the corpus × 2 bytes-of-codes per vector:
    both pruning axes at once. Ranking determinism comes from the
    integer ADC domain + vec_id tie-break; cell assignment reuses the
    round-6 cosine convention proven by ann_ivf_topk.
    """
    cells = ivf_cells(emb, n_centroids) if cells is None else cells
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id", "cell",
            cosine_batch(F.col("q_emb"), F.col("c_emb")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "cell")
    )
    member = (
        cells.select("vec_id", "cell")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    lut = pq_distances(
        emb, ids=emb.filter(F.col("vec_id").isin(query_ids)).select("vec_id")
    ).select(
        F.col("vec_id").alias("q_id"),
        "subspace",
        F.col("cell").alias("code"),
        F.col("sq").alias("d"),
    )
    codes = (pq_codes(emb) if codes is None else codes).select(
        "vec_id", "subspace", "code"
    )
    scored = (
        member.join(codes, "vec_id")
        .join(F.broadcast(lut), ["q_id", "subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return topk_per_key(scored, "q_id", [F.col("adc_dist"), F.col("vec_id")], k)
