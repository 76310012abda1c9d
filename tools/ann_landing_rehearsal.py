"""Driver vs Spark landing of ANN index builds at growing input sizes.

``ann_index.build_ann_index`` / ``build_ann_index_2level`` (and
``append_to_ann_index``) land an input on the driver — one ``toArrow()``
collect, the numpy kernels, pyarrow writes — when Spark's size estimate
of its plan is at most ``spark.sql.files.maxPartitionBytes``; above that
they run the Spark plan. This rehearsal builds the same corpus both
ways, from about 0.3 MB of parquet input up to about 128 MB, so the
bound can be checked against the measured crossover. The Spark landing
is forced by setting ``maxPartitionBytes`` one byte below the input's
estimate.

Each point prints one JSON line: the input bytes, and the median wall
and process-tree CPU seconds of each landing over ``reps`` alternating
builds. Both landings must leave identical rows in every table and the
same manifest keys. The last line names the smallest input at which the
Spark landing was faster (``null``: the driver won at every point) next
to the session's ``maxPartitionBytes``.

Usage:  python tools/ann_landing_rehearsal.py [n_vecs] [n_groups] [reps]
        n_vecs is the largest corpus (default 480000, ~128 MB);
        n_groups is 1 (default: build_ann_index, one group) or more
        (build_ann_index_2level over that many groups).
Corpora (perfbench's seeded clustered vectors) live under
$REHEARSAL_DIR (default /tmp/ann_landing) and are reused when present.
Memory: the largest point holds the collected input and its tables on
the driver; it fits a 4g driver.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("REHEARSAL_DIR", "/tmp/ann_landing")
FRACTIONS = (1 / 400, 1 / 100, 1 / 25, 1 / 8, 1 / 3, 1)


def _state(index: str) -> dict:
    """Every table of the index, sorted by its key columns, and the
    manifest's metadata keys."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from rds_pgbadger_etl_spark.operators import index_maintenance as M

    snap = M.manifest_snapshot(index)
    out = {"meta": {k: v for k, v in snap.items() if k.startswith("__")}}
    for table in sorted(t for t in os.listdir(index) if not t.startswith("_")):
        t = pads.dataset(
            M.table_path(index, table), format="parquet", partitioning="hive"
        ).to_table()
        keys = [c for c in ("vec_id", "table_id", "group", "cell", "subspace",
                            "dim") if c in t.column_names]
        t = t.sort_by([(c, "ascending") for c in keys])
        cols = {}
        for c in sorted(t.column_names):
            col = t[c]
            if hasattr(col.type, "value_type"):
                cols[c] = (pc.list_value_length(col).to_numpy(),
                           pc.list_flatten(col).to_numpy())
            else:
                cols[c] = (col.to_numpy(),)
        out[table] = cols
    return out


def _same(a: dict, b: dict) -> bool:
    import numpy as np

    if a.keys() != b.keys() or a["meta"] != b["meta"]:
        return False
    for table in a:
        if table == "meta":
            continue
        if a[table].keys() != b[table].keys():
            return False
        for c in a[table]:
            if not all(np.array_equal(x, y)
                       for x, y in zip(a[table][c], b[table][c])):
                return False
    return True


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 480_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from perfbench import vecgen
    from perfbench.cpu import tree_seconds
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.session import get_spark, max_partition_bytes

    spark = get_spark(app_name="ann-landing-rehearsal", cpus=os.cpu_count())
    key = "spark.sql.files.maxPartitionBytes"
    bound = spark.conf.get(key)
    src = vecgen.VectorSource(5)
    ids, x = src.batch(n_vecs)
    sizes = sorted({max(1_000, int(n_vecs * f)) for f in FRACTIONS})
    corpora = {}
    for n in sizes:
        path = f"{BASE}/corpus_{n}.parquet"
        if not os.path.isfile(path):
            os.makedirs(BASE, exist_ok=True)
            vecgen.write_parquet(path, ids[:n], x[:n])
        corpora[n] = path

    def build(n: int, driver: bool, index: str):
        emb = spark.read.parquet(corpora[n])
        est = AI._plan_bytes(emb)
        spark.conf.set(key, bound if driver else str(est - 1))
        shutil.rmtree(index, ignore_errors=True)
        c0, t0 = tree_seconds(), time.perf_counter()
        try:
            if n_groups > 1:
                AI.build_ann_index_2level(
                    spark, emb, index, n_groups=n_groups,
                    n_cells=AI.auto_n_centroids(n),
                )
            else:
                AI.build_ann_index(spark, emb, index, n_centroids=None)
        finally:
            spark.conf.set(key, bound)
        return time.perf_counter() - t0, tree_seconds() - c0, est

    for driver in (False, True):  # warm both landings
        build(sizes[0], driver, f"{BASE}/warm")
    crossover = None
    for n in sizes:
        d, s = [], []
        for _ in range(reps):
            d.append(build(n, True, f"{BASE}/driver"))
            s.append(build(n, False, f"{BASE}/spark"))
        assert _same(_state(f"{BASE}/driver"), _state(f"{BASE}/spark")), (
            f"driver and Spark landings differ at {n} vectors")

        def med(runs, i):
            return round(statistics.median(r[i] for r in runs), 3)

        point = {
            "n_groups": n_groups, "n_vecs": n, "input_bytes": d[0][2],
            "driver_wall_s": med(d, 0), "driver_cpu_s": med(d, 1),
            "spark_wall_s": med(s, 0), "spark_cpu_s": med(s, 1),
        }
        print(json.dumps(point), flush=True)
        if crossover is None and point["spark_wall_s"] <= point["driver_wall_s"]:
            crossover = point["input_bytes"]
    print(json.dumps({
        "spark_faster_from_bytes": crossover,
        "max_partition_bytes": max_partition_bytes(spark),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
