"""Two-level quantizer QUALITY rehearsal on a SKEWED corpus (round-11
verdict item 1).

The mechanics rehearsal (tools/ann2level_rehearsal.py) uses a uniform
random corpus, where prefix quantizers are as good as any — it grades
cost, not quality. Real corpora are CLUSTERED and arrive in biased
order (a crawl's first chunk is one domain), so the "first N vectors"
prefix convention puts every centroid inside the early clusters: late
clusters crowd onto whichever centroid is least-far, producing a few
giant cells — simultaneously a probed-IO hot spot (a probe touching the
giant cell scans a corpus-scale partition) and a recall hole (one
centroid cannot rank a whole cluster). This rehearsal makes that
failure measurable and shows the kmeans refinement
(build_ann_index_2level(refine_iters=...)) repairing it:

corpus: 8 Gaussian-ish clusters in id-ORDER (ids 0..n/2 are cluster 0,
then n/4 cluster 1, ... halving — Zipf sizes AND ingestion-order bias,
so the quantizer prefix sees only cluster 0). For each variant
(prefix / refined) it reports:

- cell-volume skew from the landed raw/ table: max/avg/p99 rows per
  (group, cell) — the number an operator reads off ann_index_stats;
- probed-IO for 5 queries drawn from DIFFERENT clusters: bytes of the
  probed (group, cell) partitions — balanced cells mean probes cost
  ~n_probe x cell volume, skewed cells mean one probe scans a
  corpus-scale partition;
- recall@10 vs exact brute force over the same 5 queries.

Usage: python tools/ann2level_skew_rehearsal.py [n_vecs] [refine_iters]
(defaults 8M, 1). Run SOLO like every rehearsal on this box.
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


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    refine_iters = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    corpus = f"{BASE}/emb_skew_{n_vecs}"

    import numpy as np
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as IM
    from rds_pgbadger_etl_spark.operators import similarity as S
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="ann-2level-skew-rehearsal")

    # deterministic cluster centers, far apart on the sphere-ish
    rs = np.random.RandomState(7)
    centers = rs.uniform(-1.0, 1.0, size=(N_CLUSTERS, DIM)).round(3)

    t_gen = 0.0
    if not os.path.isdir(corpus):
        t0 = time.perf_counter()
        # cluster by ID RANGE, halving sizes: [0, n/2) -> c0,
        # [n/2, 3n/4) -> c1, ... (last two ranges equal so ids exhaust)
        bounds = []
        lo = 0
        for c in range(N_CLUSTERS - 1):
            hi = lo + n_vecs // (2 ** (c + 1))
            bounds.append((lo, hi))
            lo = hi
        bounds.append((lo, n_vecs))
        cluster = F.lit(N_CLUSTERS - 1)
        for c in range(N_CLUSTERS - 2, -1, -1):
            cluster = F.when(
                F.col("id") < F.lit(bounds[c][1]), F.lit(c)
            ).otherwise(cluster)
        centers_lit = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in centers[c]])
                for c in range(N_CLUSTERS)
            ]
        )
        noise = F.array(
            *[(F.rand(seed=100 + j) * 0.3).cast("double") for j in range(DIM)]
        )
        emb_col = F.zip_with(
            F.element_at(centers_lit, F.col("cluster") + 1),
            noise,
            lambda c, z: (c + z).cast("float"),
        )
        (
            spark.range(n_vecs)
            .withColumn("cluster", cluster)
            .select(
                F.col("id").alias("vec_id"),
                emb_col.alias("embedding"),
                "cluster",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(corpus)
        )
        t_gen = time.perf_counter() - t0

    full = spark.read.parquet(corpus)
    emb = full.select("vec_id", "embedding")
    from rds_pgbadger_etl_spark.session import size_shuffle_partitions

    size_shuffle_partitions(spark, corpus)

    n_cells = AI.auto_n_centroids(n_vecs)
    n_groups = 16 if n_cells >= 16 else 4

    # three queries from each of 5 different clusters (smallest ids) —
    # a 150-hit recall denominator instead of 50, so single-hit noise
    # stops dominating the variant comparison
    from pyspark.sql import Window as W

    q_ids = [
        int(r.vec_id)
        for r in full.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("cluster").orderBy("vec_id")),
        )
        .filter((F.col("rn") <= 3) & (F.col("cluster") < 5))
        .select("vec_id")
        .collect()
    ]
    q_rows = emb.filter(F.col("vec_id").isin(q_ids)).collect()
    queries = [(int(r.vec_id), list(r.embedding)) for r in q_rows]
    truth = {
        (int(r.q_id), int(r.vec_id))
        for r in S.brute_force_topk(emb, q_ids, K).collect()
    }

    out = {
        "n_vecs": n_vecs,
        "n_clusters": N_CLUSTERS,
        "gen_sec": round(t_gen, 1),
        "shape": {"n_groups": n_groups, "n_cells": n_cells},
        "refine_iters": refine_iters,
        "variants": {},
    }

    # refinement trains on a 5% deterministic hash sample (mini-batch
    # k-means — the corpus-scale path kmeans_refine's docstring
    # prescribes; full-corpus Lloyd's at 8M spills ~35 GB through the
    # per-vector assignment window for no statistical gain)
    for name, kwargs in [
        ("prefix", {}),
        (
            "refined",
            {"refine_iters": refine_iters, "train_fraction": 0.05},
        ),
    ]:
        idx = f"{BASE}/index2_skew_{name}_{n_vecs}"
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        AI.build_ann_index_2level(
            spark, emb, idx, n_groups=n_groups, n_cells=n_cells, **kwargs
        )
        t_build = time.perf_counter() - t0

        per_cell = (
            spark.read.parquet(IM.table_path(idx, "raw"))
            .groupBy("group", "cell")
            .agg(F.count(F.lit(1)).alias("rows"))
            .select("group", "cell", "rows")
            .collect()
        )
        rows = sorted(int(r.rows) for r in per_cell)
        n_live_cells = len(rows)
        avg = n_vecs / n_live_cells
        p99 = rows[min(n_live_cells - 1, int(0.99 * n_live_cells))]

        # recall vs probed IO across PROBE BUDGETS: a degenerate
        # catch-all cell buys recall by scanning a corpus-scale
        # partition, so equal-n_probe comparisons flatter the skewed
        # layout — the operative metric is recall AT EQUAL PROBED
        # BYTES (and the latency those bytes cost)
        raw_root = IM.table_path(idx, "raw")
        budgets = {}
        for n_probe in (2, 4, 8):
            probe_pairs = sorted(
                {
                    (g, c)
                    for _, g, c in AI._probes(
                        spark, idx, queries, n_probe=n_probe
                    )
                }
            )
            probed_mb = [
                round(_dir_bytes(f"{raw_root}/group={g}/cell={c}") / 1e6, 1)
                for g, c in probe_pairs
            ]
            t0 = time.perf_counter()
            got = AI.ann_index_ivf_topk(
                spark, idx, queries, K, n_probe=n_probe
            ).collect()
            t_search = time.perf_counter() - t0
            hits = sum(
                1 for r in got if (int(r.q_id), int(r.vec_id)) in truth
            )
            budgets[n_probe] = {
                "probed_partitions": len(probe_pairs),
                "probed_mb_total": round(sum(probed_mb), 1),
                "probed_mb_max": max(probed_mb) if probed_mb else 0.0,
                "search_sec": round(t_search, 2),
                "recall_at_10": round(hits / (len(q_ids) * K), 4),
            }

        out["variants"][name] = {
            "build_sec": round(t_build, 1),
            "live_cells": n_live_cells,
            "max_cell_rows": rows[-1],
            "avg_cell_rows": round(avg, 1),
            "p99_cell_rows": p99,
            "skew_max_over_avg": round(rows[-1] / avg, 1),
            "by_n_probe": budgets,
        }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
