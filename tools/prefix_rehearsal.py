"""Prefix-codes arm rehearsal (round 13): does materializing
``sq8_prefix/`` turn the dimension ladder's byte cut into a SCAN cut?

Round 12's honest finding: the truncated arms slice in the projection,
so parquet still reads the full codes/embedding column — at 8M the
float truncated leg ran 51.1 s vs the flat scan's 44.8 s (no IO win).
The fix (add_sq8_prefix_to_ann_index) lands the leading-16 int8 codes
as their own cell-partitioned table; this rehearsal measures, at the
same 8M clustered corpus as tools/residual_rehearsal.py:

- on-disk bytes/vector of raw / sq8 / sq8_prefix (the storage ladder
  the probe path actually reads: ~256 B / ~64 B / ~16 B at dims=16);
- SQ8-trunc16 search wall time WITHOUT the arm (projection slice over
  the 64-code column) vs WITH the arm (scan of the 16-code table),
  with BIT-IDENTITY of the result sets asserted;
- the flat SQ8 (64 B) leg as the reference: the done-criterion is the
  truncated leg at or below the flat leg once the arm is present.

Measurement shape: PREFIX_Q query vectors (default 5). The family
sweep's 30 concurrent queries probe ~every one of the 122 cells, which
defeats partition pruning by construction AND makes the distance
kernel's OUTPUT array (n_queries longs per row, dims-independent)
the dominant Arrow transfer — at that shape all three legs measure
equal (~57 s, recorded in BENCH_NOTES round 13). A handful of
queries is the pruned-probe shape the layout exists for; there the
codes-column IO is a visible term.

Usage: python tools/prefix_rehearsal.py [n_vecs]  (default 8M; SOLO;
PREFIX_Q=30 reproduces the saturation shape).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/ann_rehearsal")
DIM = 64
N_CLUSTERS = 8
K = 10
N_FAMILIES = 30
FAM_SIZE = 11


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    corpus = f"{BASE}/emb_resfam_{n_vecs}"

    import numpy as np
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as IM
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="prefix-rehearsal")

    # same deterministic clustered corpus as residual_rehearsal.py —
    # regenerate if a prior run's artifact is gone
    rs = np.random.RandomState(11)
    centers = rs.uniform(-1.0, 1.0, size=(N_CLUSTERS, DIM)).round(3)
    stride = n_vecs // N_FAMILIES
    if not os.path.isdir(corpus):
        cluster = F.pmod(
            (F.col("id") * 8 / n_vecs).cast("long"), F.lit(N_CLUSTERS)
        )
        fam = (F.col("id") / stride).cast("long")
        j = F.pmod(F.col("id"), F.lit(stride))
        in_fam = j < FAM_SIZE

        def h01(*cols):
            return (
                F.pmod(F.abs(F.hash(*cols)), F.lit(100_000)) / 100_000.0
            )

        centers_lit = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in centers[c]])
                for c in range(N_CLUSTERS)
            ]
        )
        emb_cols = []
        for d in range(DIM):
            base = (h01(fam * 977 + 13, F.lit(d)) - 0.5) * 0.6
            own = (h01(F.col("id"), F.lit(d)) - 0.5) * 0.6
            jitter = (h01(F.col("id") * 31 + 7, F.lit(d)) - 0.5) * 0.04
            noise = F.when(in_fam, base + jitter).otherwise(own)
            emb_cols.append(
                (
                    F.element_at(centers_lit, cluster.cast("int") + 1)[d]
                    + noise
                ).cast("float")
            )
        (
            spark.range(n_vecs)
            .select(
                F.col("id").alias("vec_id"),
                F.array(*emb_cols).alias("embedding"),
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(corpus)
        )

    from rds_pgbadger_etl_spark.session import size_shuffle_partitions

    size_shuffle_partitions(spark, corpus)
    emb = spark.read.parquet(corpus)
    n_q = int(os.environ.get("PREFIX_Q", "5"))
    q_ids = [f * stride for f in range(min(n_q, N_FAMILIES))]
    q_rows = emb.filter(F.col("vec_id").isin(q_ids)).collect()
    queries = [(int(r.vec_id), list(r.embedding)) for r in q_rows]

    d = f"{BASE}/index_prefix_{n_vecs}"
    out = {"n_vecs": n_vecs, "n_queries": len(q_ids)}
    if not (os.path.isdir(d) and IM.read_meta(d, AI._SQ8_KEY, False)):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        AI.build_ann_index(
            spark,
            emb,
            d,
            n_centroids=AI.auto_n_centroids(n_vecs),
            refine_iters=2,
            train_fraction=0.05,
            residual=False,
        )
        out["build_sec"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        AI.add_sq8_to_ann_index(spark, d)
        out["add_sq8_sec"] = round(time.perf_counter() - t0, 1)
    # start every comparison from a store WITHOUT the prefix arm
    if IM.read_meta(d, AI._SQ8_PREFIX_DIMS_KEY, None) is not None:
        IM.write_meta(d, AI._SQ8_PREFIX_DIMS_KEY, None)

    def rows_of(df):
        return sorted(map(str, df.select(sorted(df.columns)).collect()))

    def timed(fn, runs=3):
        times, res = [], None
        for _ in range(runs):
            t0 = time.perf_counter()
            res = fn()
            times.append(round(time.perf_counter() - t0, 1))
        return times, res

    # record the probed-cell fraction (the pruning this layout buys)
    probes = AI._probes(spark, d, queries, 4)
    out["probed_cells"] = len({c for *_, c in probes})
    out["total_cells"] = len(AI._stored_assigner(spark, d).cells)

    # (1) trunc16 via projection slice (no arm)
    t_slice, r_slice = timed(
        lambda: rows_of(
            AI.ann_index_sq8_topk(spark, d, queries, K, 4 * K, dims=16)
        )
    )
    out["trunc16_slice_sec"] = t_slice

    # (2) materialize the arm, record the storage ladder
    t0 = time.perf_counter()
    AI.add_sq8_prefix_to_ann_index(spark, d, 16)
    out["add_prefix_sec"] = round(time.perf_counter() - t0, 1)
    for t in ("raw", "sq8", "sq8_prefix"):
        b = _dir_bytes(IM.table_path(d, t))
        out[f"{t}_bytes_per_vec"] = round(b / n_vecs, 1)

    # (3) trunc16 via the prefix table — bit-identical, scan-side cut
    t_arm, r_arm = timed(
        lambda: rows_of(
            AI.ann_index_sq8_topk(spark, d, queries, K, 4 * K, dims=16)
        )
    )
    out["trunc16_arm_sec"] = t_arm
    out["bit_identical"] = bool(r_arm == r_slice)

    # (4) the flat SQ8 reference leg (64 B codes, full-width distances)
    t_flat, _ = timed(
        lambda: rows_of(AI.ann_index_sq8_topk(spark, d, queries, K, 4 * K))
    )
    out["sq8_flat_sec"] = t_flat

    # (5) the binary (1-bit Hamming) rung: ~DIM/8 B of sign bits per
    # vector, shortlist scoring entirely JVM-side (no Arrow kernel).
    # Wall time at the same pruned-probe shape + shortlist, plus the
    # rung's RECALL against the exact probed-population top-K (binary
    # is the lossiest rung — the byte cut only matters if the 4K-deep
    # Hamming shortlist still carries the true neighbors).
    if not IM.read_meta(d, AI._BINARY_KEY, False):
        t0 = time.perf_counter()
        AI.add_binary_to_ann_index(spark, d)
        out["add_binary_sec"] = round(time.perf_counter() - t0, 1)
    out["binary_bytes_per_vec"] = round(
        _dir_bytes(IM.table_path(d, "binary")) / n_vecs, 1
    )
    t_bin, r_bin = timed(
        lambda: rows_of(AI.ann_index_binary_topk(spark, d, queries, K, 4 * K))
    )
    out["binary_sec"] = t_bin
    flat_pairs = {
        (int(r.q_id), int(r.vec_id))
        for r in AI.ann_index_ivf_topk(spark, d, queries, K).collect()
    }
    bin_pairs = {
        (
            int(s.split("q_id=")[1].split(",")[0].rstrip(")")),
            int(s.split("vec_id=")[1].split(",")[0].rstrip(")")),
        )
        for s in r_bin
    }
    out["binary_recall_at_k"] = round(
        len(bin_pairs & flat_pairs) / max(len(flat_pairs), 1), 4
    )

    # (6) the cascade: binary (deep 16K coarse shortlist) -> SQ8 L2
    # over survivors -> exact rerank. Measures whether the deep-cheap
    # first stage recovers the recall the 1-bit rung loses at 4K.
    def pairs_of(rows):
        return {
            (
                int(s.split("q_id=")[1].split(",")[0].rstrip(")")),
                int(s.split("vec_id=")[1].split(",")[0].rstrip(")")),
            )
            for s in rows
        }

    t_casc, r_casc = timed(
        lambda: rows_of(
            AI.ann_index_cascade_topk(spark, d, queries, K, 4 * K, 16 * K)
        )
    )
    out["cascade_sec"] = t_casc
    out["cascade_recall_at_k"] = round(
        len(pairs_of(r_casc) & flat_pairs) / max(len(flat_pairs), 1), 4
    )

    print(json.dumps(out))


if __name__ == "__main__":
    main()
