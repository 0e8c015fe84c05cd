"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. ``--trace-out``
additionally writes the spans, both metric sets and run notes to a file.

All generated inputs and Spark state live in a work directory under
``.perfbench_work/`` in the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "pipeline")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    return ap.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Pin the engine to this machine's cores and keep every file Spark,
    the JVM and Python write inside the work directory."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "redshift_etl_spark", "__init__.py")):
        print("perfbench: redshift_etl_spark not found beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    sys.path[:0] = [ROOT, HERE]

    from harness import Run

    cores = len(os.sched_getaffinity(0))
    work_parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work, cores)
    os.chdir(work)  # derby.log, spark-warehouse, metastore_db land here
    run = Run(work, args.seed, args.seconds, bool(args.trace), cores)
    try:
        wl = importlib.import_module(f"wl_{args.workload}")
        correct = wl.run(run)
        e2e = run.e2e()
        layer = run.layer_metrics([m["name"] for m in spec["per_layer"]]) if args.trace else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_parent) and not os.listdir(work_parent):
            os.rmdir(work_parent)

    chosen = layer if args.trace else e2e
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace_out:
        with open(args.trace_out, "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "end_to_end": e2e, "per_layer": layer, "notes": run.notes,
                 "spans": run.tracer.spans},
                f,
            )
    run.notes["run_wall_s"] = round(time.perf_counter() - t_main, 3)
    print(f"# {args.workload} seed={args.seed} notes={json.dumps(run.notes, sort_keys=True)}")
    print(json.dumps({
        "correct": bool(correct) and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
