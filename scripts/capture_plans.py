"""Capture .explain('formatted') plans and isolated walls for a named
set of contract queries, from EITHER the current tree or another
checkout (pass its root as --repo), for an optimization round's
plan-diff evidence.

Usage:
    python scripts/capture_plans.py <round> <suffix> q1 q2 ... [--repo ROOT]

Writes plans/r<NN>/<query>_<suffix>.txt (into THIS repo's plans dir)
and prints one wall-clock line per query (min of 2 collect()s, same
protocol as bench.py).  Streaming queries execute at construction; for
those the captured text is the batch plan of the returned frame plus
the recorded state-operator metrics when available.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("round", type=lambda r: int(str(r).lstrip("r")), help="round number, e.g. 15 or r15")
ap.add_argument("suffix", help="file-name suffix naming the variant (e.g. base, new)")
ap.add_argument("names", nargs="+", help="contract query names")
ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                help="checkout whose hyperspace_spark is imported (default: this one)")
args = ap.parse_args()

TAG = f"r{args.round:02d}"
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", TAG)

sys.path.insert(0, args.repo)
# Python workers import the package too (UDF-backed queries).
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [args.repo, os.environ.get("PYTHONPATH")]))

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName(f"{TAG}_capture_{args.suffix}")
    .config("spark.sql.shuffle.partitions", str(cpus))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.warehouse.dir", "/tmp/hs_bench_warehouse")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from hyperspace_spark.workload import QUERIES, workspace  # noqa: E402
from hyperspace_spark.llm import dedup as _dedup  # noqa: E402

workspace(spark, sf_dir)
os.makedirs(OUT_DIR, exist_ok=True)

for name in args.names:
    spark.sparkContext.setJobDescription(f"{TAG}:{name}")
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        best = min(best, time.perf_counter() - t0)
    _dedup.release_caches()
    with open(os.path.join(OUT_DIR, f"{name}_{args.suffix}.txt"), "w") as f:
        f.write(f"-- {name} ({args.suffix}) wall(min-of-2 collect): {best:.3f}s\n")
        f.write(buf.getvalue())
    print(f"{name}\t{best:.3f}")
spark.stop()
