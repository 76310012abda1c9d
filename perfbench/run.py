"""Benchmark runner: one workload, one seed, one result line.

    python3 perfbench/run.py --workload pgbadger_cron --seed 1 --seconds 5 --trace 0

Run from the repository root. The engine runs in this process on
``local[<usable cores>]`` with a 3 GB driver heap; every file the run
writes, Spark's scratch space included, stays under ``.perfbench_work/``,
which is removed at the end. A traced run (``--trace 1``) also leaves its
spans in ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
With ``--trace 0`` the line before it gives the workload's own figures,
each with its unit (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "bulk_cpu_s": "s", "op_cpu_s": "s"}


def _pin_environment(work: str) -> None:
    """Settings the Spark JVM and its Python workers inherit."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers (mapInArrow, UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import rds_pgbadger_etl_spark.cli  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import spans
    import workloads as W

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    from session import Sessions

    sessions = Sessions(work)
    wl = W.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    try:
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            trace_dir = os.path.join(work, "trace")
            run, values, span_list = W.trace(sessions, wl, trace_dir)
            units = W.PER_LAYER
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump({"spans": span_list,
                           "layers": spans.layer_totals(span_list)}, f, indent=1)
            print(json.dumps({"workload": args.workload, "spans": spans_path}))
        else:
            run, values, figures = W.measure(sessions, wl, args.seconds)
            units = END_TO_END_UNITS
            print(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
            }))
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
