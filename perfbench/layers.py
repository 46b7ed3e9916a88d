"""Per-layer metrics of a traced run.

Every workload reports the same names; a layer a workload does not
exercise reports 0.  Read-level figures come from the traced reads of
the timed loop; half the reads (serve_indexed) or passes
(corpus_pipeline) run untraced, so `trace.overhead_ratio` compares
traced with untraced work of the same run.
"""

from __future__ import annotations

from perfbench.corpus import OPERATORS
from perfbench.serve import TEMPLATES
from perfbench.trace import mean, p50

KINDS = ("covering", "zorder", "dataskipping", "inverted")


def layer_metrics(ctx, result) -> dict:
    tr = ctx.tracer
    reads = tr.op_spans("read")
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    # hyperspace: apply entry point, apply cache, lifecycle transactions
    put("hyperspace.apply_ms", p50(tr.per_op("hyperspace.apply", reads)) * 1e3, "ms")
    outcomes = [e.detail for evs in tr.events_of("apply", reads).values() for e in evs]
    rewritten = [d for d in outcomes if d in ("cache", "planned")]
    put(
        "hyperspace.apply_cache_hit_ratio",
        rewritten.count("cache") / len(rewritten) if rewritten else 0.0,
        "ratio",
    )
    put("hyperspace.create_ms", p50(tr.event_ms("create")), "ms")
    put("hyperspace.refresh_incremental_ms", p50(tr.event_ms("refresh", "incremental")), "ms")
    put("hyperspace.optimize_ms", p50(tr.event_ms("optimize")), "ms")
    put("hyperspace.vacuum_ms", p50(tr.event_ms("vacuum")), "ms")

    # planner, per apply
    for phase in ("parse", "candidates", "optimize", "replay"):
        put(f"planner.{phase}_ms", p50(tr.per_op(f"planner.{phase}", reads)) * 1e3, "ms")
    calls = tr.per_op("hyperspace.apply", reads, "py4j")
    put("planner.py4j_calls_per_apply", p50(calls), "count")
    hit = tr.events_of("apply", reads)
    was_rewritten = [1.0 if hit[s.op] else 0.0 for s in reads]
    put("planner.rewrite_ratio", mean(was_rewritten), "ratio")
    for t in TEMPLATES:
        idx = [i for i, s in enumerate(reads) if tr.ops[s.op][1] == t]
        put(f"planner.py4j_calls_per_apply.{t}", p50(calls[i] for i in idx), "count")
        put(f"planner.rewrite_ratio.{t}", mean(was_rewritten[i] for i in idx), "ratio")
    excluded = tr.events_of("rule_excluded", tr.op_spans())
    put("planner.rule_excluded", sum(len(v) for v in excluded.values()), "count")

    # metadata and fs, per client operation
    ops = [s for s in tr.op_spans() if tr.ops[s.op][0] != "warmup"]
    put("metadata.log_reads", mean(tr.count_per_op("metadata.read", ops)), "count")
    put("metadata.log_writes", mean(tr.count_per_op("metadata.write", ops)), "count")
    meta_s = [a + b for a, b in zip(tr.per_op("metadata.read", ops), tr.per_op("metadata.write", ops))]
    put("metadata.ms", mean(meta_s) * 1e3, "ms")
    put("fs.list_calls_per_op", mean(tr.count_per_op("fs.list", ops)), "count")
    put("fs.list_ms", mean(tr.per_op("fs.list", ops)) * 1e3, "ms")

    # indexes: builds, maintenance writes, index searches
    for kind in KINDS:
        put(f"indexes.{kind}.build_ms", p50(tr.durations(f"indexes.{kind}.build")) * 1e3, "ms")
    writes = result.get("refresh_writes", [])
    put("indexes.bytes_written", mean(b for b, _f in writes), "bytes")
    put("indexes.files_written", mean(f for _b, f in writes), "count")
    walls = result.get("op_walls", {})
    put("indexes.text_search_s", p50(walls.get("text_search_ranked", [])), "s")

    # exec: Spark work for the frame apply() returns
    put("exec.build_ms", p50(tr.per_op("exec.build", reads)) * 1e3, "ms")
    put("exec.collect_ms", p50(tr.per_op("exec.collect", reads)) * 1e3, "ms")
    plans = [r.plan for r in result.get("reads", []) if r.plan is not None]
    put("exec.files_read", mean(p["files"] for p in plans), "count")
    put("exec.bytes_read", mean(p["bytes"] for p in plans), "bytes")
    returned = sum(max(1, len(r.rows)) for r in result.get("reads", []) if r.plan is not None)
    put("exec.rows_read_per_row_returned", sum(p["rows"] for p in plans) / returned if returned else 0.0, "ratio")
    put("exec.shuffle_bytes", mean(p["shuffle_bytes"] for p in plans), "bytes")
    put("exec.exchanges", mean(p["exchanges"] for p in plans), "count")

    # llm and streaming operators
    for name, (layer, short) in OPERATORS.items():
        if layer in ("llm", "streaming"):
            put(f"{layer}.{short}_s", p50(walls.get(name, [])), "s")

    # the trace itself
    put("trace.overhead_ratio", result.get("trace_overhead", 0.0), "ratio")
    timed = reads if reads else tr.op_spans("corpus")
    put("trace.unattributed_share", tr.unattributed_share(timed), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
