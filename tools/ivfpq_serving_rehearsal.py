"""Driver-side vs Spark IVF-PQ scoring at growing probed sizes.

``ann_index._ivfpq_topk`` scores a search on the driver (pyarrow + numpy,
no Spark job) when the probed ``vectors/`` partitions' data-file bytes,
summed over (query, partition) pairs, are at most
``spark.sql.files.maxPartitionBytes``; above that it runs the Spark plan.
This rehearsal times both scoring tails on the same probes, from one
query probing 2 cells up to a batch of queries probing every cell, so the
bound can be checked against the measured crossover.

Each point prints one JSON line: the probed bytes, and the median wall
and process-tree CPU seconds of each tail plus its ``collect()`` over
``reps`` alternating runs. The shared preamble (probe selection, LUT,
listing) is outside the timing. Both tails must return identical rows.
The last line names the smallest probed size at which the Spark plan
was faster (``null``: the driver won at every point) next to the
session's ``maxPartitionBytes``.

Usage:  python tools/ivfpq_serving_rehearsal.py [n_vecs] [n_groups] [reps]
        n_groups is 1 (default: build_ann_index, one group) or more
        (build_ann_index_2level over that many groups).
Corpus (perfbench's seeded clustered vectors) and index live under
$REHEARSAL_DIR (default /tmp/ivfpq_serving) and are reused when present.
Memory: the 2M-vector build fits a 4g driver.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/ivfpq_serving")
K = 10
BATCHES = (1, 2, 4, 8, 16)


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from perfbench import vecgen
    from perfbench.cpu import tree_seconds
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.session import get_spark, max_partition_bytes

    spark = get_spark(app_name="ivfpq-serving-rehearsal", cpus=os.cpu_count())
    corpus = f"{BASE}/corpus_{n_vecs}"
    index = f"{BASE}/index_g{n_groups}_{n_vecs}"
    src = vecgen.VectorSource(3)
    if not os.path.isdir(corpus):
        os.makedirs(corpus)
        for i in range(0, n_vecs, 500_000):
            ids, x = src.batch(min(500_000, n_vecs - i))
            vecgen.write_parquet(f"{corpus}/part-{i:09d}.parquet", ids, x)
    else:
        src.batch(n_vecs)  # the same generator state: queries near live groups
    n_cells = AI.auto_n_centroids(n_vecs)
    if not os.path.isdir(f"{index}/vectors"):
        emb = spark.read.parquet(corpus)
        t0 = time.perf_counter()
        if n_groups > 1:
            AI.build_ann_index_2level(
                spark, emb, index, n_groups=n_groups, n_cells=n_cells
            )
        else:
            AI.build_ann_index(spark, emb, index, n_centroids=n_cells)
        print(json.dumps({"build_s": round(time.perf_counter() - t0, 1)}))

    def run(qs, n_probe, driver):
        probes = AI._probes(spark, index, qs, n_probe, n_groups)
        lut, residual = AI._search_luts(spark, index, qs, probes)
        files = AI._probed_files(index, probes)
        args = (spark, index, qs, probes)
        c0, t0 = tree_seconds(), time.perf_counter()
        if driver:
            df = AI._driver_adc_topk(*args, files, lut, residual, K)
        else:
            df = AI._spark_adc_topk(*args, lut, residual, K)
        rows = df.collect()
        wall, cpu = time.perf_counter() - t0, tree_seconds() - c0
        probed = sum(b for p in probes for _, b in files[p[1:]])
        return wall, cpu, probed, sorted(tuple(r) for r in rows)

    queries = [src.query(q) for q in range(max(BATCHES))]
    for driver in (False, True, False, True):  # warm both paths
        run(queries[:1], 2, driver)
    points = [(2, 1), (8, 1)] + [(n_cells, b) for b in BATCHES]
    crossover = None
    for n_probe, batch in points:
        qs = queries[:batch]
        d, s = [], []
        for _ in range(reps):
            d.append(run(qs, n_probe, True))
            s.append(run(qs, n_probe, False))
            assert d[-1][3] == s[-1][3], "driver and Spark rows differ"

        def med(runs, i):
            return round(statistics.median(r[i] for r in runs), 3)

        point = {
            "n_groups": n_groups, "n_vecs": n_vecs, "n_probe": n_probe,
            "queries": batch, "probed_bytes": d[0][2],
            "driver_wall_s": med(d, 0), "driver_cpu_s": med(d, 1),
            "spark_wall_s": med(s, 0), "spark_cpu_s": med(s, 1),
        }
        print(json.dumps(point), flush=True)
        if crossover is None and point["spark_wall_s"] <= point["driver_wall_s"]:
            crossover = point["probed_bytes"]
    print(json.dumps({
        "spark_faster_from_bytes": crossover,
        "max_partition_bytes": max_partition_bytes(spark),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
