"""Residual-PQ vs raw-PQ recall rehearsal (round 11).

Residual encoding (build_ann_index(residual=True)) quantizes
r(x) = x - c(x) instead of x. It helps exactly when the coarse
quantizer captures locality: residuals then concentrate near the
origin, so the SAME codebook covers a far smaller range and quantizes
finer. The negative control is already registered — on the fixture's
hash-uniform embeddings (no locality for centroids to capture) the
`ann_index_refined_recall` audit measures residual_pq BELOW raw PQ
(0.24 vs 0.40 recall@10): residual encoding is a tool for clustered
corpora, not a default.

This rehearsal measures the positive regime at scale: 8 id-ordered
Gaussian clusters (intra-cluster spread 0.3) with PLANTED
neighbor families — 30 query points each with 10 variants at jitter
0.02, the "find my near-duplicates among 60k+ cluster co-members"
task. Ranking them requires resolution between the family jitter and
the cluster spread: the raw codebook's 16 cells must cover the whole
corpus range (centers at +-1), while the residual codebook only covers
the intra-cluster spread — ~3x finer cells for free. Centroids are
kmeans-refined (2 rounds, 5% sample) and IDENTICAL between the two
arms (asserted), so ADC-stage recall@10 isolates encoding quality;
the two-stage rerank row shows the production composition.

Usage: python tools/residual_rehearsal.py [n_vecs]  (default 8M; SOLO).
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
FAM_SIZE = 11  # head + 10 variants


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    corpus = f"{BASE}/emb_resfam_{n_vecs}"

    import numpy as np
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import similarity as S
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(app_name="residual-rehearsal")

    rs = np.random.RandomState(11)
    centers = rs.uniform(-1.0, 1.0, size=(N_CLUSTERS, DIM)).round(3)

    stride = n_vecs // N_FAMILIES
    t_gen = 0.0
    if not os.path.isdir(corpus):
        t0 = time.perf_counter()
        cluster = F.pmod(
            (F.col("id") * 8 / n_vecs).cast("long"), F.lit(N_CLUSTERS)
        )
        fam = (F.col("id") / stride).cast("long")
        j = F.pmod(F.col("id"), F.lit(stride))
        in_fam = j < FAM_SIZE

        def h01(*cols):  # deterministic uniform [0,1) from a hash
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
        t_gen = time.perf_counter() - t0

    from rds_pgbadger_etl_spark.session import size_shuffle_partitions

    size_shuffle_partitions(spark, corpus)
    emb = spark.read.parquet(corpus)
    q_ids = [f * stride for f in range(N_FAMILIES)]  # the family heads
    q_rows = emb.filter(F.col("vec_id").isin(q_ids)).collect()
    queries = [(int(r.vec_id), list(r.embedding)) for r in q_rows]
    truth = {
        (int(r.q_id), int(r.vec_id))
        for r in S.brute_force_topk(emb, q_ids, K).collect()
    }
    denom = len(q_ids) * K

    out = {
        "n_vecs": n_vecs,
        "gen_sec": round(t_gen, 1),
        "n_queries": len(q_ids),
        "variants": {},
    }
    dirs = {}
    for variant, kwargs in [
        ("raw", {"residual": False}),
        ("residual", {"residual": True}),
        # round 12: the no-knob arm — the build's DEFAULT measures the
        # intra-cell/global variance ratio on its own assignment and
        # must pick residual here (the clustered regime)
        ("auto", {"residual": "auto"}),
    ]:
        d = f"{BASE}/index_resfam_{variant}_{n_vecs}"
        dirs[variant] = d
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        AI.build_ann_index(
            spark,
            emb,
            d,
            n_centroids=AI.auto_n_centroids(n_vecs),
            refine_iters=2,
            train_fraction=0.05,  # mini-batch k-means at 8M
            **kwargs,
        )
        entry = {"build_sec": round(time.perf_counter() - t0, 1)}
        for n_probe in (2, 4):
            got = AI.ann_index_ivfpq_topk(
                spark, d, queries, K, n_probe=n_probe
            ).collect()
            hits = sum(
                1 for r in got if (int(r.q_id), int(r.vec_id)) in truth
            )
            entry[f"adc_recall_p{n_probe}"] = round(hits / denom, 4)
        rr = AI.ann_index_ivfpq_rerank_topk(
            spark, d, queries, K, 4 * K
        ).collect()
        hits = sum(1 for r in rr if (int(r.q_id), int(r.vec_id)) in truth)
        entry["rerank_recall_p2"] = round(hits / denom, 4)
        out["variants"][variant] = entry

    # SQ8 leg (round 11): the int8 arm derived on the RAW index's dir —
    # identical centroids again, so the recall column shows where the
    # 8-bit-per-dim tier lands between raw-PQ and residual-PQ in the
    # clustered regime. shortlist == K makes the returned set the pure
    # code-space top-K (the audits' apples-to-apples convention); the
    # rerank row is the production composition.
    d = dirs["raw"]
    t0 = time.perf_counter()
    AI.add_sq8_to_ann_index(spark, d)
    entry = {"add_sec": round(time.perf_counter() - t0, 1)}
    for n_probe in (2, 4):
        got = AI.ann_index_sq8_topk(
            spark, d, queries, K, K, n_probe=n_probe
        ).collect()
        hits = sum(1 for r in got if (int(r.q_id), int(r.vec_id)) in truth)
        entry[f"shortlist_recall_p{n_probe}"] = round(hits / denom, 4)
    rr = AI.ann_index_sq8_topk(spark, d, queries, K, 4 * K).collect()
    hits = sum(1 for r in rr if (int(r.q_id), int(r.vec_id)) in truth)
    entry["rerank_recall_p2"] = round(hits / denom, 4)
    out["variants"]["sq8"] = entry

    # composed leg (round 12): SQ8 precision cut x matryoshka dimension
    # cut on the same dir — the code-space shortlist reads the leading
    # 16 of the 64 stored int8 codes (~16 B scored per probed vector);
    # exact full-dim rerank as always. This is the ladder's deepest
    # feasible-IO point that an exact rerank can still repair.
    entry = {}
    for n_probe in (2, 4):
        got = AI.ann_index_sq8_topk(
            spark, d, queries, K, K, n_probe=n_probe, dims=16
        ).collect()
        hits = sum(1 for r in got if (int(r.q_id), int(r.vec_id)) in truth)
        entry[f"shortlist_recall_p{n_probe}"] = round(hits / denom, 4)
    rr = AI.ann_index_sq8_topk(spark, d, queries, K, 4 * K, dims=16).collect()
    hits = sum(1 for r in rr if (int(r.q_id), int(r.vec_id)) in truth)
    entry["rerank_recall_p2"] = round(hits / denom, 4)
    out["variants"]["sq8_trunc16"] = entry

    # truncated leg (round 12): the DIMENSION arm on the same raw dir —
    # identical centroids and probes again, shortlist scored on the
    # leading 16 of 64 components (4x less scanned+multiplied), exact
    # full-dim rerank. shortlist == K gives the pure truncated-space
    # top-K set (the apples-to-apples convention); the 4K-shortlist
    # row is the production composition. The clustered regime is
    # truncation's POSITIVE case at 8M (cluster separation survives the
    # prefix), complementing the registered uniform-fixture floor.
    entry = {}
    for n_probe in (2, 4):
        t0 = time.perf_counter()
        got = AI.ann_index_truncated_topk(
            spark, d, queries, K, shortlist=K, n_probe=n_probe
        ).collect()
        sec = time.perf_counter() - t0
        hits = sum(1 for r in got if (int(r.q_id), int(r.vec_id)) in truth)
        entry[f"shortlist_recall_p{n_probe}"] = round(hits / denom, 4)
        entry[f"search_sec_p{n_probe}"] = round(sec, 1)
    rr = AI.ann_index_truncated_topk(
        spark, d, queries, K, shortlist=4 * K
    ).collect()
    hits = sum(1 for r in rr if (int(r.q_id), int(r.vec_id)) in truth)
    entry["rerank_recall_p2"] = round(hits / denom, 4)
    t0 = time.perf_counter()
    AI.ann_index_ivf_topk(spark, d, queries, K, n_probe=4).collect()
    entry["flat_search_sec_p4"] = round(time.perf_counter() - t0, 1)
    out["variants"]["truncated"] = entry

    import numpy as np  # noqa: F811

    m1 = AI._stored_assigner(spark, dirs["raw"]).c_mat
    m2 = AI._stored_assigner(spark, dirs["residual"]).c_mat
    out["same_centroids"] = bool(np.array_equal(m1, m2))

    # chosen == best: the auto arm's manifest choice must match the
    # measured winner between the two explicit arms (ADC recall, p4)
    from rds_pgbadger_etl_spark.operators import index_maintenance as IM

    mode = IM.read_meta(dirs["auto"], AI._RESIDUAL_MODE_KEY)
    best = max(
        ("raw", "residual"),
        key=lambda v: out["variants"][v]["adc_recall_p4"],
    )
    out["auto_choice"] = {
        "variance_ratio": mode["variance_ratio"],
        "chosen_residual": mode["chosen_residual"],
        "best_arm": best,
        "chosen_matches_best": bool(
            mode["chosen_residual"] == (best == "residual")
        ),
    }

    # the NEGATIVE regime with no knob: a hash-uniform corpus (the
    # registered negative control's distribution) must make auto pick
    # raw — both regimes' winners selected by the same default
    uni = (
        spark.range(200_000)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.pmod(
                            F.abs(F.hash(F.col("id") * 131 + d)),
                            F.lit(2000),
                        )
                        / 1000.0
                        - 1.0
                    ).cast("float")
                    for d in range(DIM)
                ]
            ).alias("embedding"),
        )
    )
    d_uni = f"{BASE}/index_resfam_auto_uniform"
    shutil.rmtree(d_uni, ignore_errors=True)
    AI.build_ann_index(
        spark,
        uni,
        d_uni,
        n_centroids=AI.auto_n_centroids(200_000),
        refine_iters=2,
        train_fraction=0.05,
    )
    umode = IM.read_meta(d_uni, AI._RESIDUAL_MODE_KEY)
    out["auto_choice_uniform"] = {
        "variance_ratio": umode["variance_ratio"],
        "chosen_residual": umode["chosen_residual"],
        "chosen_matches_best": umode["chosen_residual"] is False,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
