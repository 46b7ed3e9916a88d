"""corpus_pipeline: repeated passes over the LLM-data and streaming
operators, plus BM25 searches over a persisted inverted index.

The pipelines the library's workload registers over a table directory
are called through `hyperspace_spark.workload.QUERIES` with the run's
corpus directory; the search runs on the run's own index.  Every timed
result is compared with the operator's DuckDB oracle from
`hyperspace_spark.workload.ORACLES`, the search's with the seeded terms
put into its SQL.

The seed draws the corpus (with a stated share of exact and
near-duplicate documents), the operator order of every pass and each
search's terms.  Set-up builds the inverted index and runs one warm-up
pass (one search stands for the three), which takes the JVM and
Python-worker warm-up out of the timed passes.  To keep set-up short the warm-up of the streaming and of the
LLM operators runs on two threads beside the index build; the timed
passes run on one thread.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time

from perfbench import data
from perfbench.check import same_rows
from perfbench.common import pct, settle, template_p50_geomean, timed_refresh

# Each operator's layer and short metric name.
OPERATORS = {
    "semantic_dedup": ("llm", "semantic_dedup"),
    "streaming_stateful_sessionize": ("streaming", "stateful_sessionize"),
    "streaming_interval_join": ("streaming", "interval_join"),
    "text_search_ranked": ("indexes", "text_search"),
}
TXT_INDEX = "bench_txt"


def build_index(spark, hs, corpus_dir: str) -> None:
    from hyperspace_spark import InvertedTextIndexConfig

    hs.create_index(
        spark.read.parquet(f"{corpus_dir}/documents.parquet"),
        InvertedTextIndexConfig(TXT_INDEX, num_buckets=8),
    )


class Corpus:
    """Runs one operator and returns (rows, column names) after collect."""

    def __init__(self, spark, hs, corpus_dir: str):
        self.spark = spark
        self.hs = hs
        self.dir = corpus_dir

    def run(self, name: str, params: dict):
        from hyperspace_spark.llm import dedup

        try:
            if name == "text_search_ranked":
                df = self.hs.text_search_ranked(TXT_INDEX, params["terms"], k=25)
            else:
                from hyperspace_spark.workload import QUERIES

                df = QUERIES[name](self.spark, self.dir)
            return [tuple(r) for r in df.collect()], list(df.columns)
        finally:
            dedup.release_caches()


def oracle_sql(name: str, params: dict) -> str:
    from hyperspace_spark.workload import ORACLES

    sql = ORACLES[name]
    if name == "text_search_ranked":
        # The registered oracle scores the terms data, query and scan;
        # swap in this search's terms (sorted, as the index sums them).
        terms = params["terms"]
        in_list = "token IN ('data', 'query', 'scan')"
        sums = "\n             + ".join(
            f"coalesce(sum(CASE WHEN token = '{t}' THEN s END), 0.0::DOUBLE)" for t in terms
        )
        if sql.count(in_list) != 1:
            raise ValueError("the text_search_ranked oracle no longer has the expected form")
        sql, n_sums = re.subn(
            r"coalesce\(sum\(CASE WHEN token = 'data'.*?'scan' THEN s END\), 0\.0::DOUBLE\)",
            sums,
            sql.replace(in_list, "token IN (" + ", ".join(f"'{t}'" for t in terms) + ")"),
            flags=re.S,
        )
        if n_sums != 1:
            raise ValueError("the text_search_ranked oracle no longer has the expected form")
    return sql


def duck(corpus_dir: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in ("documents", "embeddings", "events"):
        path = f"{corpus_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


N_DOCS = 1000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
N_VECTORS = 500
N_EVENTS = 10_000
N_USERS = 300
SEARCHES = 3  # BM25 searches per pass
APPEND_ROUNDS = 1
APPEND_DOCS = 20  # 2% of the unique documents per round
SHUFFLE_PARTITIONS = 2

PIPELINES = [n for n, (layer, _) in OPERATORS.items() if layer != "indexes"]


def _pass_plan(rng) -> list[tuple[str, dict]]:
    ops = [(n, {}) for n in PIPELINES]
    for _ in range(SEARCHES):
        terms = sorted(str(t) for t in rng.choice(data.VOCAB[2:], 3, replace=False))
        ops.append(("text_search_ranked", {"terms": terms}))
    return [ops[i] for i in rng.permutation(len(ops))]


def run(ctx) -> dict:
    from hyperspace_spark import Hyperspace

    ctx.spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
    t_gen = time.perf_counter()
    cdir = ctx.run.sub("corpus")
    docs, props = data.documents(ctx.rng, N_DOCS, EXACT_SHARE, NEAR_SHARE)
    tables = {
        "documents": docs,
        "embeddings": data.embeddings(ctx.rng, N_VECTORS),
        "events": data.events(ctx.rng, N_EVENTS, N_USERS),
    }
    data.write_tables(tables, cdir, files={"documents": 1})
    gen_s = time.perf_counter() - t_gen

    t0 = time.perf_counter()
    system_path = ctx.run.sub("indexes")
    hs = Hyperspace(ctx.spark, system_path=system_path)
    corpus = Corpus(ctx.spark, hs, cdir)
    warm = _pass_plan(ctx.rng.spawn(1)[0])
    build_s = _set_up(ctx, hs, corpus, cdir, warm)
    setup_s = ctx.start_s + (time.perf_counter() - t0)

    results = []  # (pass, name, params, wall, rows, cols)
    passes = []
    settle(ctx)
    loop_t0 = time.perf_counter()
    k = 0
    min_passes = 2 if ctx.tracer else 1  # a traced and an untraced pass
    while k < min_passes or time.perf_counter() - loop_t0 < ctx.seconds:
        if ctx.tracer:
            ctx.tracer.on = k % 2 == 0
        p0 = time.perf_counter()
        for name, params in _pass_plan(ctx.rng):
            layer, metric = OPERATORS[name]
            ctx.attempted += 1
            t1 = time.perf_counter()
            try:
                with ctx.op("corpus", name), ctx.span(f"{layer}.{metric}"):
                    rows, cols = corpus.run(name, params)
                results.append((k, name, params, time.perf_counter() - t1, rows, cols))
            except Exception as exc:
                ctx.fail(f"{name}{params}: raised {type(exc).__name__}: {exc}")
        passes.append(time.perf_counter() - p0)
        k += 1
    loop_s = time.perf_counter() - loop_t0
    if ctx.tracer:
        ctx.tracer.on = True

    t_check = time.perf_counter()
    _check(ctx, cdir, results)
    t_maintain = time.perf_counter()
    refresh_ms, refresh_writes = _maintain(ctx, hs, corpus, cdir, system_path, docs.num_rows)
    maintain_s = time.perf_counter() - t_maintain
    index_bytes = data.dir_bytes(system_path)
    source_bytes = data.dir_bytes(cdir)

    searches = [r[3] for r in results if OPERATORS[r[1]][0] == "indexes"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_geomean_ms": (template_p50_geomean({"text_search_ranked": searches}) * 1e3, "ms"),
        "queries_per_s": (len(searches) / loop_s, "1/s"),
        "refresh_p50_ms": (pct(refresh_ms, 50), "ms"),
        "index_bytes_per_source_byte": (index_bytes / source_bytes, "ratio"),
        "pass_p50_s": (pct(passes, 50), "s"),
    }
    op_walls: dict[str, list[float]] = {}
    for _k, name, _p, wall, _r, _c in results:
        op_walls.setdefault(name, []).append(wall)
    info = dict(props)
    info.update(
        {
            "generate_s": gen_s,
            "start_s": ctx.start_s,
            "build_s": build_s,
            "set_up_s": setup_s - ctx.start_s,
            "loop_s": loop_s,
            "check_s": t_maintain - t_check,
            "maintain_s": maintain_s,
            "passes": len(passes),
            "embeddings_rows": N_VECTORS,
            "events_rows": N_EVENTS,
            "appended_docs_per_round": APPEND_DOCS,
            "op_walls_s": {n: [round(x, 3) for x in w] for n, w in op_walls.items()},
        }
    )
    overhead = passes[0] / passes[1] if ctx.tracer and len(passes) > 1 else 0.0
    return {
        "e2e": e2e,
        "op_walls": op_walls,
        "refresh_writes": refresh_writes,
        "trace_overhead": overhead,
        "info": info,
    }


def _maintain(ctx, hs, corpus, cdir, system_path: str, n_docs: int):
    """After the timed passes: APPEND_ROUNDS rounds of a seeded crawl
    batch landing as a new file, an incremental refresh of the text
    index, and one search checked against the oracle over the grown
    corpus."""
    refresh_ms, writes = [], []
    for rnd in range(APPEND_ROUNDS):
        batch, _ = data.documents(ctx.rng, APPEND_DOCS, 0.0, 0.0, first_id=n_docs)
        n_docs += batch.num_rows
        data.write_table(batch, f"{cdir}/documents.parquet/append-{rnd:03d}.parquet")
        ms, nbytes, nfiles = timed_refresh(ctx, hs, TXT_INDEX, system_path)
        refresh_ms.append(ms)
        writes.append((nbytes, nfiles))
        params = {"terms": sorted(str(t) for t in ctx.rng.choice(data.VOCAB[2:], 3, replace=False))}
        ctx.attempted += 1
        try:
            with ctx.op("refreshed_read", "text_search_ranked"):
                rows, cols = corpus.run("text_search_ranked", params)
            _check(ctx, cdir, [(0, "text_search_ranked", params, 0.0, rows, cols)])
        except Exception as exc:
            ctx.fail(f"text_search_ranked{params} after refresh: raised {type(exc).__name__}: {exc}")
    return refresh_ms, writes


def _set_up(ctx, hs, corpus, cdir, plan) -> float:
    """Build the text index while the pipelines run their warm-up: the
    streaming operators on one thread, the LLM operators on another.
    One search warms the search path once the index exists.  Returns
    the index build seconds."""
    layer = lambda p: OPERATORS[p[0]][0]  # noqa: E731

    def go(ops):
        for name, params in ops:
            try:
                corpus.run(name, params)
            except Exception as exc:  # untimed; the timed passes count failures
                print(f"perfbench: warm-up {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)

    threads = [
        threading.Thread(target=go, args=([p for p in plan if layer(p) == kind],))
        for kind in ("streaming", "llm")
    ]

    def build() -> float:
        t0 = time.perf_counter()
        build_index(ctx.spark, hs, cdir)
        return time.perf_counter() - t0

    # a traced run builds alone, so its build spans time the build only
    build_s = build() if ctx.tracer else None
    for t in threads:
        t.start()
    if build_s is None:
        build_s = build()
    for t in threads:
        t.join()
    go([p for p in plan if layer(p) == "indexes"][:1])  # one search warms the path
    return build_s


def _check(ctx, cdir, results) -> None:
    con = duck(cdir, ctx.run.sub("tmp"))
    expected = {}
    try:
        for _k, name, params, _wall, rows, cols in results:
            key = (name, repr(params))
            try:
                if key not in expected:
                    res = con.execute(oracle_sql(name, params))
                    expected[key] = (res.fetchall(), [d[0] for d in res.description])
            except Exception as exc:  # an oracle that cannot run fails the check
                ctx.fail(f"{name}{params}: oracle raised {type(exc).__name__}: {exc}")
                continue
            want_rows, want_cols = expected[key]
            if not same_rows(rows, cols, want_rows, want_cols):
                ctx.fail(f"{name}{params}: {len(rows)} rows, oracle {len(want_rows)}")
    finally:
        con.close()
