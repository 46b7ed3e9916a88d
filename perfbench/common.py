"""Shared pieces of the workloads: the run context, frame reads with a
cached schema, timed reads with their result checks, and the metric
helpers."""

from __future__ import annotations

import json
import time

import numpy as np

APPLY_ENABLED = "spark.hyperspace.apply.enabled"


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def template_p50_geomean(walls_by_template: dict[str, list[float]]) -> float:
    """Geometric mean over read templates of each template's median
    latency.  The median of a mixed read stream jumps between template
    clusters as the mix shifts; this summary moves smoothly with every
    template and weighs a given relative change alike in each."""
    medians = [pct(w, 50) for w in walls_by_template.values() if w]
    return float(np.exp(np.mean(np.log(medians)))) if medians else 0.0


def settle(ctx) -> None:
    """Collect the set-up's garbage in the JVM and in Python before the
    timed loop, so no collection of it lands inside a timed operation."""
    import gc

    ctx.spark.sparkContext._jvm.System.gc()
    gc.collect()


class Context:
    """What a workload gets from the command: the session, the run
    directory, the seeded generator, the measuring time and the tracer
    (None on untraced runs); it collects the operation counts."""

    def __init__(self, spark, run, seed: int, seconds: float, start_s: float, tracer):
        self.spark = spark
        self.run = run
        self.seconds = seconds
        self.start_s = start_s  # session start, part of every set-up
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._schemas: dict[str, object] = {}

    def read(self, path: str):
        """Parquet read with the schema inferred once per path, as a
        catalog would supply it; keeps footer-inference jobs out of the
        timed reads."""
        from pyspark.sql.types import StructType

        sj = self._schemas.get(path)
        if sj is None:
            sj = self._schemas[path] = self.spark.read.parquet(path).schema.json()
        return self.spark.read.schema(StructType.fromJson(json.loads(sj))).parquet(path)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, kind: str, label: str):
        from contextlib import nullcontext

        return self.tracer.op(kind, label) if self.tracer else nullcontext()


class Read:
    """One client read: frame build + hs.apply + collect."""

    __slots__ = ("template", "params", "wall", "rows", "cols", "plan", "traced")

    def __init__(self, template: str, params):
        self.template, self.params = template, params
        self.wall, self.rows, self.cols, self.plan, self.traced = 0.0, None, None, None, False


def timed_read(ctx: Context, hs, read: Read, build, kind: str = "read") -> Read:
    from perfbench.trace import plan_metrics

    read.traced = bool(ctx.tracer and ctx.tracer.on)
    t0 = time.perf_counter()
    with ctx.op(kind, read.template):
        with ctx.span("exec.build"):
            df = build(ctx, *read.params)
        fast = hs.apply(df)
        with ctx.span("exec.collect"):
            rows = fast.collect()
    read.wall = time.perf_counter() - t0
    read.rows, read.cols = [tuple(r) for r in rows], list(fast.columns)
    if read.traced:
        read.plan = plan_metrics(fast)
    return read


def check_reads(ctx: Context, hs, checks, workers: int = 1) -> None:
    """Re-run each (read, build) with index application switched off,
    on up to `workers` threads, and compare the rows; the switch is a
    session setting, so it stays off until every plain read is done."""
    from concurrent.futures import ThreadPoolExecutor

    from perfbench.check import same_rows

    def plain(read, build):
        df = hs.apply(build(ctx, *read.params))
        return [tuple(r) for r in df.collect()], list(df.columns)

    ctx.spark.conf.set(APPLY_ENABLED, "false")
    try:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futs = [(read, pool.submit(plain, read, build)) for read, build in checks]
            for read, fut in futs:
                what = f"{read.template}{read.params}"
                try:
                    rows, cols = fut.result()
                except Exception as exc:  # a raising check is a failed check
                    ctx.fail(f"{what}: check raised {type(exc).__name__}: {exc}")
                    continue
                if not same_rows(read.rows, read.cols, rows, cols):
                    ctx.fail(f"{what}: {len(read.rows)} rows vs {len(rows)} plain")
    finally:
        ctx.spark.conf.set(APPLY_ENABLED, "true")


def timed_refresh(ctx, hs, name: str, system_path: str) -> tuple[float, int, int]:
    """One incremental refresh: (ms, bytes and files it added under the
    index system path)."""
    from perfbench.data import dir_files

    before = dir_files(system_path)
    ctx.attempted += 1
    t0 = time.perf_counter()
    try:
        with ctx.op("refresh", name):
            hs.refresh_index(name, "incremental")
    except Exception as exc:
        ctx.fail(f"refresh {name}: raised {type(exc).__name__}: {exc}")
    ms = (time.perf_counter() - t0) * 1e3
    after = dir_files(system_path)
    new = [p for p in after if p not in before]
    return ms, sum(after[p] for p in new), len(new)
