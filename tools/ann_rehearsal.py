"""ANN-index scale rehearsal — build/search the persisted index at GB
scale (the artifact's twin of the parse/dedup/stream rehearsals).

Generates a deterministic synthetic embedding corpus (n x 64 float32,
seeded rand), builds the on-disk IVF-PQ/LSH index with
operators/ann_index.build_ann_index (map-only assignment + map-only
vectorized PQ encode after round 6), and measures at 1x/2x:

- build wall time + per-stage shuffle bytes (expect ~zero shuffle on
  assignment/encode; the only exchanges are the partitionBy writes),
- artifact sizes (codes ≈ 2 bytes/vector of search payload vs 256 B raw),
- warm search latency from the artifact (ivfpq reader, best of 3) and
  the bytes actually scanned by the pruned search vs the raw corpus —
  the IVF partition-pruning ratio delivered, not claimed,
- brute-force exact search over the raw corpus for the same queries, as
  the latency baseline.

Usage:  python tools/ann_rehearsal.py [n_vecs]
Corpus parquet under $REHEARSAL_DIR (default /tmp/ann_rehearsal),
reused when present.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parse_rehearsal import stage_metrics  # noqa: E402

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/ann_rehearsal")
DIM = 64


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    corpus = f"{BASE}/emb_{n_vecs}"
    evdir = f"{BASE}/eventlog"
    index_dir = f"{BASE}/index_{n_vecs}"
    os.makedirs(evdir, exist_ok=True)

    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.operators import similarity as S
    from rds_pgbadger_etl_spark.session import get_spark

    spark = get_spark(
        app_name="ann-rehearsal",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    t_gen = 0.0
    if not os.path.isdir(corpus):
        t0 = time.perf_counter()
        cols = F.array(
            *[F.rand(seed=1000 + j).cast("float") for j in range(DIM)]
        )
        (
            spark.range(n_vecs)
            .select(F.col("id").alias("vec_id"), cols.alias("embedding"))
            .repartition(64)
            .write.mode("overwrite")
            .parquet(corpus)
        )
        t_gen = time.perf_counter() - t0
    corpus_bytes = _dir_bytes(corpus)
    emb = spark.read.parquet(corpus)

    # --- build ---------------------------------------------------------
    # SPARK_GRAFT_ANN_CENTROIDS: an int, or "auto" for the
    # sqrt-of-corpus rule — the knob behind the measured-sqrt-scaling
    # leg (default: the registered-query constant S.N_CENTROIDS).
    c_env = os.environ.get("SPARK_GRAFT_ANN_CENTROIDS", "")
    n_centroids = (
        AI.auto_n_centroids(n_vecs)
        if c_env == "auto"
        else int(c_env)
        if c_env
        else S.N_CENTROIDS
    )
    if c_env:
        index_dir = f"{index_dir}_c{n_centroids}"
    shutil.rmtree(index_dir, ignore_errors=True)
    t0 = time.perf_counter()
    AI.build_ann_index(spark, emb, index_dir, n_centroids=n_centroids)
    t_build = time.perf_counter() - t0
    sizes = {
        part: round(_dir_bytes(f"{index_dir}/{part}") / 1e6, 1)
        for part in ("vectors", "raw", "lsh_buckets", "coarse", "fine", "codebook")
    }

    # --- search --------------------------------------------------------
    q_rows = emb.filter(F.col("vec_id") < 5).collect()
    queries = [(int(r.vec_id), list(r.embedding)) for r in q_rows]

    def best_of_3(fn):
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        return round(min(runs), 3)

    t_index_search = best_of_3(
        lambda: AI.ann_index_ivfpq_topk(spark, index_dir, queries, 10)
    )
    t_ivf_flat = best_of_3(
        lambda: AI.ann_index_ivf_topk(spark, index_dir, queries, 10)
    )
    t_brute = best_of_3(
        lambda: S.brute_force_topk(emb, [q for q, _ in queries], 10)
    )

    # --- SQ8 leg (round 11): derive the int8 arm from the stored raw/
    # partitions, then the two-stage search (integer code-space
    # shortlist + exact rerank). Expect sq8/ ≈ raw/4 on disk, probed IO
    # likewise, and search between ivfpq (2 B/vec) and ivf_flat
    # (256 B/vec) — the middle rung's cost/recall position, measured.
    t0 = time.perf_counter()
    AI.add_sq8_to_ann_index(spark, index_dir)
    t_sq8_add = time.perf_counter() - t0
    sizes["sq8"] = round(_dir_bytes(f"{index_dir}/sq8") / 1e6, 1)
    t_sq8_search = best_of_3(
        lambda: AI.ann_index_sq8_topk(spark, index_dir, queries, 10)
    )

    # pruning delivered: partitions the ivfpq reader actually scans
    df = AI.ann_index_ivfpq_topk(spark, index_dir, queries, 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = "PartitionFilters" in plan and " IN " in plan

    # --- streamed-ingestion flag leg (round 8): a fixed micro-batch
    # flagged against the store (streaming/incremental_ann.py's
    # flag_against_index — the foreachBatch step) at each corpus size.
    # Unlike the dedup store's collision-driven lookup, flag cost is
    # batch × probed-cell volume (∝ corpus/n_centroids): expect growth
    # with store size at FIXED n_centroids — the measured argument for
    # scaling n_centroids ~ sqrt(corpus) in production so cell volume
    # (and per-batch flag cost) stays constant.
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
    )

    flag_cols = F.array(
        *[F.rand(seed=3000 + j).cast("float") for j in range(DIM)]
    )
    flag_batch = (
        spark.range(10_000_000, 10_000_000 + 2_000)
        .select(F.col("id").alias("vec_id"), flag_cols.alias("embedding"))
        .repartition(16)
        .persist()
    )
    flag_batch.count()
    t0 = time.perf_counter()
    flags = flag_against_index(spark, flag_batch, index_dir, k=3)
    t_flag = time.perf_counter() - t0
    n_flags = flags.count()
    flag_batch.unpersist()

    # --- append leg (round 7): upsert 10%, search, compact, search ----
    # The lifecycle a real user runs hourly: append_to_ann_index lands
    # one file-set per cell per batch, so files/cell grows with batch
    # count until compact_ann_index rewrites each partition to one set.
    files_fresh = len(M.data_files(M.table_path(index_dir, "vectors")))
    n_new = n_vecs // 10
    new_cols = F.array(
        *[F.rand(seed=2000 + j).cast("float") for j in range(DIM)]
    )
    emb_new = (
        spark.range(n_vecs, n_vecs + n_new)
        .select(F.col("id").alias("vec_id"), new_cols.alias("embedding"))
        .repartition(16)
    )
    t0 = time.perf_counter()
    AI.append_to_ann_index(spark, emb_new, index_dir)
    t_append = time.perf_counter() - t0
    files_appended = len(M.data_files(M.table_path(index_dir, "vectors")))
    t_search_post_append = best_of_3(
        lambda: AI.ann_index_ivfpq_topk(spark, index_dir, queries, 10)
    )
    t0 = time.perf_counter()
    compact_stats = AI.compact_ann_index(spark, index_dir)
    t_compact = time.perf_counter() - t0
    files_compacted = len(M.data_files(M.table_path(index_dir, "vectors")))
    t_search_post_compact = best_of_3(
        lambda: AI.ann_index_ivfpq_topk(spark, index_dir, queries, 10)
    )

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)

    stages = stage_metrics(evdir)
    print(
        json.dumps(
            {
                "app_id": app_id,
                "n_vecs": n_vecs,
                "n_centroids": n_centroids,
                "corpus_mb": round(corpus_bytes / 1e6, 1),
                "gen_sec": round(t_gen, 1),
                "build_sec": round(t_build, 1),
                "index_mb": sizes,
                "search_ivfpq_sec": t_index_search,
                "search_ivf_flat_sec": t_ivf_flat,
                "search_brute_sec": t_brute,
                "sq8_add_sec": round(t_sq8_add, 1),
                "search_sq8_sec": t_sq8_search,
                "partition_pruned": pruned,
                "flag_batch_size": 2_000,
                "flag_sec": round(t_flag, 1),
                "n_flags": n_flags,
                "append_pct": 10,
                "append_sec": round(t_append, 1),
                "vector_files_fresh": files_fresh,
                "vector_files_after_append": files_appended,
                "vector_files_after_compact": files_compacted,
                "search_post_append_sec": t_search_post_append,
                "compact_sec": round(t_compact, 1),
                "compact_stats": compact_stats,
                "search_post_compact_sec": t_search_post_compact,
                "total_shuffle_write_mb": round(
                    sum(s["shuffle_write_mb"] for s in stages), 1
                ),
                "total_spill_mb": round(
                    sum(s["spill_mb"] for s in stages), 1
                ),
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
