"""serve_indexed: parameterised reads over indexed TPC-H-style tables.

Reads cycle through TEMPLATES in a fixed order, so every run has the
same template mix; the seed draws each read's literals.  Every
REPEAT_EVERY-th read instead re-issues the instance its template ran
in the previous pass (a few seconds earlier, inside the 10 s apply
cache TTL): the dashboard-refresh shape the apply cache serves.  After
the timed loop come the output checks and one maintenance round
(`maintain`), which measures the write side: append, incremental
refresh, optimize and vacuum.
"""

from __future__ import annotations

import datetime
import os
import time

from perfbench import data
from perfbench.common import Read, check_reads, pct, settle, template_p50_geomean, timed_read, timed_refresh

N_ORDERS = 10_000
LINEITEM_FILES = 8
ORDERS_FILES = 4
REPEAT_EVERY = 5  # 20% of reads repeat a recent instance
MIN_PASSES = 3  # a median of three reads per template, which one cache hit cannot move
APPEND_ROUNDS = 1
LINEITEM_INDEXES = ("li_okey", "li_skip", "li_z")
ZORDER_TEMPLATE = "zorder_range"  # the one template served by li_z
DAY = datetime.timedelta(days=1)
D0 = datetime.datetime(1995, 1, 1)


def _date(days: int) -> str:
    return (D0 + days * DAY).strftime("%Y-%m-%d")


# -- templates: (ctx, *literals) -> DataFrame ---------------------------
def point_lookup(ctx, custkey):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["orders"])
        .filter(F.col("o_custkey") == custkey)
        .select("o_orderkey", "o_totalprice")
    )


def range_agg(ctx, lo, width):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["orders"])
        .filter(F.col("o_custkey").between(lo, lo + width))
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("sum_total"), F.count("*").alias("cnt"))
    )


def join_agg(ctx, max_qty):
    from pyspark.sql import functions as F

    li, o = ctx.read(ctx.src["lineitem"]), ctx.read(ctx.src["orders"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_quantity") < max_qty)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
    )


def zorder_range(ctx, qty, max_price):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["lineitem"])
        .filter(f"l_quantity BETWEEN {qty} AND {qty + 1} AND l_extendedprice < {max_price}")
        .select("l_orderkey", "l_quantity", F.round("l_extendedprice", 2).alias("price"))
    )


def date_probe(ctx, day):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["lineitem"])
        .filter(
            (F.col("l_shipdate") >= F.lit(_date(day)).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_date(day + 20)).cast("timestamp"))
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("cnt"))
    )


def metadata_agg(ctx, y0, y1):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["orders_bypart"])
        .filter(f"o_year BETWEEN {y0} AND {y1}")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("tot"))
    )


def q3_join(ctx, segment, day):
    from pyspark.sql import functions as F

    c = ctx.read(ctx.src["customer"]).filter(F.col("c_mktsegment") == segment)
    o = ctx.read(ctx.src["orders"]).filter(F.col("o_orderdate") < F.lit(_date(day)).cast("timestamp"))
    li = ctx.read(ctx.src["lineitem"]).filter(
        F.col("l_shipdate") > F.lit(_date(day - 700)).cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q1_unserved(ctx, max_discount, max_tax):
    from pyspark.sql import functions as F

    return (
        ctx.read(ctx.src["lineitem"])
        .filter((F.col("l_discount") <= max_discount) & (F.col("l_tax") <= max_tax))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TEMPLATES = {
    "point_lookup": point_lookup,
    "range_agg": range_agg,
    "join_agg": join_agg,
    "zorder_range": zorder_range,
    "date_probe": date_probe,
    "metadata_agg": metadata_agg,
    "q3_join": q3_join,
    "q1_unserved": q1_unserved,
}


def draw(rng, template: str, n_cust: int, seen: set) -> tuple:
    """Seeded literals of an instance of the template not in `seen`,
    which it then joins: only the deliberate repeats may hit the apply
    cache, whichever ranges a template draws from."""
    for _ in range(1000):
        params = _literals(rng, template, n_cust)
        if (template, params) not in seen:
            seen.add((template, params))
            return params
    raise ValueError(f"{template}: no unused literals left")


def _literals(rng, template: str, n_cust: int) -> tuple:
    """Ranges narrow enough that every instance of a template does about
    the same work."""
    i = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731
    if template == "point_lookup":
        return (i(0, n_cust),)
    if template == "range_agg":
        return (i(0, n_cust - 40), 30)
    if template == "join_agg":
        return (i(20, 31),)
    if template == "zorder_range":
        return (i(5, 15), i(6000, 9000))
    if template == "date_probe":
        return (i(0, 2480),)
    if template == "metadata_agg":
        y0 = i(1995, 1999)
        return (y0, y0 + i(1, 4))
    if template == "q3_join":
        return (data.SEGMENTS[i(0, 5)], i(1500, 1800))
    return (round(i(3, 8) / 100, 2), round(i(3, 6) / 100, 2))


# -- set-up ---------------------------------------------------------------
def make_sources(ctx, src_dir: str) -> tuple[dict, dict]:
    """Seeded tables laid out as the indexes expect: lineitem clustered
    by ship date across its files (what data skipping prunes on), orders
    in several files and a Hive-partitioned copy by order year."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tabs = data.tpch_tables(ctx.rng, N_ORDERS)
    ctx.appended_rows = ctx.appended_bytes = 0
    tabs["lineitem"] = tabs["lineitem"].sort_by("l_shipdate")
    data.write_tables(tabs, src_dir, files={"lineitem": LINEITEM_FILES, "orders": ORDERS_FILES})
    o = tabs["orders"]
    o = o.append_column("o_year", pc.year(o["o_orderdate"]).cast(pa.int32()))
    pq.write_to_dataset(o, f"{src_dir}/orders_bypart", partition_cols=["o_year"])
    src = {k: f"{src_dir}/{k}.parquet" for k in ("lineitem", "orders", "customer")}
    src["orders_bypart"] = f"{src_dir}/orders_bypart"
    return src, tabs


def index_builds(ctx, hs) -> list:
    from hyperspace_spark import (
        CoveringIndexConfig,
        DataSkippingIndexConfig,
        MinMaxSketch,
        PartitionSketch,
        RowCountSketch,
        SumSketch,
        ZOrderCoveringIndexConfig,
    )

    li = lambda: ctx.read(ctx.src["lineitem"])  # noqa: E731
    o = lambda: ctx.read(ctx.src["orders"])  # noqa: E731
    # the z-order build, the longest, comes first: set_up starts it first
    return [
        lambda: hs.create_index(
            li(),
            ZOrderCoveringIndexConfig(
                "li_z", ["l_quantity", "l_extendedprice"], ["l_orderkey"], target_bytes_per_partition=128 * 1024
            ),
        ),
        lambda: hs.create_index(
            o(), CoveringIndexConfig("o_cust", ["o_custkey"], ["o_orderkey", "o_totalprice"], num_buckets=16)
        ),
        lambda: hs.create_index(
            li(),
            CoveringIndexConfig(
                "li_okey",
                ["l_orderkey"],
                ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"],
                num_buckets=8,
            ),
        ),
        lambda: hs.create_index(
            o(),
            CoveringIndexConfig(
                "o_okey", ["o_orderkey"], ["o_orderpriority", "o_custkey", "o_orderdate"], num_buckets=8
            ),
        ),
        lambda: hs.create_index(li(), DataSkippingIndexConfig("li_skip", [MinMaxSketch(["l_shipdate"])])),
        lambda: hs.create_index(
            ctx.read(ctx.src["orders_bypart"]),
            DataSkippingIndexConfig(
                "o_meta", [PartitionSketch(["o_year"]), RowCountSketch(), SumSketch(["o_totalprice"])]
            ),
        ),
    ]


def set_up(ctx, hs, warm: dict, workers: int) -> None:
    """Build every index, then read each template once untimed with the
    literals in `warm`.  With more than one worker the z-order build,
    the longest, starts first and the warm-up reads of the templates it
    does not serve run beside it; a traced run does everything in order
    on this thread, so its build spans time the builds alone."""
    from concurrent.futures import ThreadPoolExecutor

    def warm_up(t):
        timed_read(ctx, hs, Read(t, warm[t]), TEMPLATES[t], "warmup")

    zorder, *rest = index_builds(ctx, hs)
    if workers == 1:
        for b in (zorder, *rest):
            b()
        for t in warm:
            warm_up(t)
        return
    with ThreadPoolExecutor(max_workers=workers) as pool:
        z = pool.submit(zorder)
        for fut in [pool.submit(b) for b in rest]:
            fut.result()
        reads = [pool.submit(warm_up, t) for t in warm if t != ZORDER_TEMPLATE]
        z.result()
        reads.append(pool.submit(warm_up, ZORDER_TEMPLATE))
        for fut in reads:
            fut.result()


# -- the workload ---------------------------------------------------------
def run(ctx) -> dict:
    from hyperspace_spark import Hyperspace

    from perfbench.session import CORES

    t_setup = time.perf_counter()
    ctx.src, tabs = make_sources(ctx, ctx.run.sub("src"))
    n_cust = tabs["customer"].num_rows
    gen_s = time.perf_counter() - t_setup

    t0 = time.perf_counter()
    system_path = ctx.run.sub("indexes")
    hs = Hyperspace(ctx.spark, system_path=system_path)
    names = list(TEMPLATES)
    warm_rng = ctx.rng.spawn(1)[0]
    seen: set = set()
    last: dict[str, tuple] = {t: draw(warm_rng, t, n_cust, seen) for t in names}
    set_up(ctx, hs, dict(last), 1 if ctx.tracer else CORES)
    setup_s = ctx.start_s + (time.perf_counter() - t0)

    reads: list[Read] = []
    settle(ctx)
    loop_t0 = time.perf_counter()
    # A traced run alternates tracing per template from pass to pass over
    # an even number of passes, so every template has as many traced as
    # untraced reads to compare.
    min_passes = MIN_PASSES + 1 if ctx.tracer else MIN_PASSES
    i = 0
    while True:
        k, pos = divmod(i, len(names))
        if pos == 0 and k >= min_passes and time.perf_counter() - loop_t0 >= ctx.seconds:
            break
        t = names[pos]
        params = last[t] if i % REPEAT_EVERY == REPEAT_EVERY - 1 else draw(ctx.rng, t, n_cust, seen)
        last[t] = params
        if ctx.tracer:
            ctx.tracer.on = (k + pos) % 2 == 0
        ctx.attempted += 1
        try:
            reads.append(timed_read(ctx, hs, Read(t, params), TEMPLATES[t]))
        except Exception as exc:
            ctx.fail(f"{t}{params}: raised {type(exc).__name__}: {exc}")
        i += 1
    loop_s = time.perf_counter() - loop_t0
    if ctx.tracer:
        ctx.tracer.on = True

    # output checks on the first timed read of every template
    t_check = time.perf_counter()
    first = {}
    for r in reads:
        first.setdefault(r.template, r)
    check_reads(ctx, hs, [(r, TEMPLATES[r.template]) for r in first.values()], 1 if ctx.tracer else CORES)

    t_maintain = time.perf_counter()
    refresh_ms, refresh_writes = maintain(ctx, hs, system_path, tabs, seen)
    maintain_s = time.perf_counter() - t_maintain
    index_bytes = data.dir_bytes(system_path)
    source_bytes = sum(data.dir_bytes(p) for p in ctx.src.values())

    def per_template(rs):
        return {t: [r.wall for r in rs if r.template == t] for t in names}

    walls = [r.wall for r in reads]
    by_template = per_template(reads)
    traced = template_p50_geomean(per_template([r for r in reads if r.traced]))
    untraced = template_p50_geomean(per_template([r for r in reads if not r.traced]))
    passes = [sum(walls[k : k + len(names)]) for k in range(0, len(walls) - len(names) + 1, len(names))]
    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_geomean_ms": (template_p50_geomean(by_template) * 1e3, "ms"),
        "queries_per_s": (len(reads) / loop_s, "1/s"),
        "refresh_p50_ms": (pct(refresh_ms, 50), "ms"),
        "index_bytes_per_source_byte": (index_bytes / source_bytes, "ratio"),
        "pass_p50_s": (pct(passes, 50), "s"),
    }
    info = {
        "generate_s": gen_s,
        "start_s": ctx.start_s,
        "set_up_s": setup_s - ctx.start_s,
        "loop_s": loop_s,
        "check_s": t_maintain - t_check,
        "maintain_s": maintain_s,
        "appended_rows": ctx.appended_rows,
        "appended_bytes": ctx.appended_bytes,
        "reads": len(reads),
        "repeat_share": 1 / REPEAT_EVERY,
        "template_p50_ms": {t: round(pct(w, 50) * 1e3, 1) for t, w in by_template.items()},
        "source_bytes": source_bytes,
    }
    return {
        "e2e": e2e,
        "reads": reads,
        "refresh_writes": refresh_writes,
        "trace_overhead": traced / untraced if traced and untraced else 0.0,
        "info": info,
    }


def maintain(ctx, hs, system_path: str, tabs: dict, seen: set) -> tuple[list[float], list[tuple[int, int]]]:
    """After the read loop: APPEND_ROUNDS rounds of appending a seeded
    1% lineitem batch as a new file, an incremental refresh of every
    lineitem index and one read checked against the plain plan, so the
    appended rows must be visible; then one quick optimize and a vacuum
    of outdated index versions."""
    li_dir = ctx.src["lineitem"]
    n_rows = tabs["lineitem"].num_rows // 100
    refresh_ms, writes = [], []
    probes = ["date_probe", "zorder_range", "join_agg"]
    for rnd in range(APPEND_ROUNDS):
        sizes = data.tpch_sizes(N_ORDERS)
        batch = data.lineitem_rows(ctx.rng, n_rows, N_ORDERS, sizes["part"], sizes["supplier"])
        batch = batch.sort_by("l_shipdate")
        data.write_table(batch, f"{li_dir}/append-{rnd:03d}.parquet")
        ctx.appended_rows += batch.num_rows
        ctx.appended_bytes += os.path.getsize(f"{li_dir}/append-{rnd:03d}.parquet")
        for name in LINEITEM_INDEXES:
            ms, nbytes, nfiles = timed_refresh(ctx, hs, name, system_path)
            refresh_ms.append(ms)
            writes.append((nbytes, nfiles))
        t = probes[rnd % len(probes)]
        read = Read(t, draw(ctx.rng, t, tabs["customer"].num_rows, seen))
        ctx.attempted += 1
        try:
            timed_read(ctx, hs, read, TEMPLATES[t], "refreshed_read")
            check_reads(ctx, hs, [(read, TEMPLATES[t])])
        except Exception as exc:
            ctx.fail(f"refreshed {t}{read.params}: raised {type(exc).__name__}: {exc}")
    for kind, call in (
        ("optimize", lambda: hs.optimize_index("li_okey", "quick")),
        ("vacuum", lambda: hs.vacuum_outdated_indexes("li_okey")),
    ):
        ctx.attempted += 1
        try:
            with ctx.op(kind, "li_okey"):
                call()
        except Exception as exc:
            ctx.fail(f"{kind} li_okey: raised {type(exc).__name__}: {exc}")
    return refresh_ms, writes
