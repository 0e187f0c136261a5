"""Run one benchmark workload and print its result as the last line.

    python3 vecbench/run.py --workload knn_flat --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes the spans to
``.vecbench/trace-<workload>-<seed>.json``. Exit status is 0 only when
every operation succeeded and every checked output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT)]


def main(argv=None) -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "faiss_metal_spark" / "__init__.py").is_file():
        print(f"vecbench: no faiss_metal_spark package under {ROOT}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".vecbench"
    work = out_dir / f"run-{os.getpid()}"
    from vecbench import env

    env.prepare(ROOT, work)
    spark = result = None
    try:
        from vecbench.trace import Tracer
        from vecbench.workloads import WORKLOADS, Run

        # local[2] on a 4-core host: at local[4] the workers, the driver JVM
        # and the Python driver oversubscribe the cores, and calls ran slower
        spark, session_s = env.start_session(min(2, os.cpu_count() or 1))
        run = Run(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds,
                  str(work), session_s)
        result = WORKLOADS[args.workload](run)
        if args.trace and result is not None:
            run.tracer.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.json"),
                            {"workload": args.workload, "seed": args.seed,
                             "end_to_end": result[0], "per_layer": result[1],
                             "notes": run.notes})
    finally:
        if spark is not None:
            env.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if result is None:
        print("vecbench: workload aborted", file=sys.stderr)
        return 1
    kind = "per_layer" if args.trace else "end_to_end"
    values = result[1] if args.trace else result[0]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec[kind]}
    correct = run.failed == 0
    print(json.dumps(run.notes), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
