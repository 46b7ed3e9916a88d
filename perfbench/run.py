"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  The run generates
its inputs from the seed inside perfbench/.work/, starts Spark on
local[n] (n <= 3 and <= the core count), sets up, measures for the
given seconds with one closed-loop client, checks the outputs, removes
its directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (see BENCHMARK.json and perfbench/README.md).  Diagnostics go
to standard error.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"serve_indexed": "perfbench.serve", "corpus_pipeline": "perfbench.corpus"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hyperspace_spark", "__init__.py")):
        print("perfbench: hyperspace_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    from perfbench import session

    run_dir = session.RunDir(ROOT, args.workload)
    spark = None
    try:
        session.prepare_env(ROOT, run_dir)
        from perfbench.common import Context
        from perfbench.trace import Tracer

        tracer = Tracer() if args.trace else None
        spark, start_s = session.start_spark(run_dir)
        if tracer:
            tracer.install()
            tracer.on = True
        ctx = Context(spark, run_dir, args.seed, args.seconds, start_s, tracer)
        t0 = time.perf_counter()
        result = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        print(
            f"perfbench: {args.workload} seed={args.seed} ran {time.perf_counter() - t0:.1f}s "
            f"info={json.dumps(result['info'])}",
            file=sys.stderr,
        )
        for f in ctx.failures[:20]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        if tracer:
            from perfbench.layers import layer_metrics

            tracer.on = False
            metrics = layer_metrics(ctx, result)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["e2e"].items()}
        out = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            session.stop_spark(spark)
        run_dir.remove()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
