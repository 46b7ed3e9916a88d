"""In-memory span tracer for the traced (--trace 1) runs.

Names are patched where the caller looks them up: the planner entry
points imported by name into `hyperspace_spark.hyperspace`, the
`create_index_data` of each index kind (imported at call time inside
`Hyperspace._build`), the `IndexLogManager` and `FileSystem` methods,
and py4j's `ClientServerConnection.send_command` for round trips.
Lifecycle durations and apply outcomes come from `telemetry.on_event`.

A span's self time is its wall minus its child spans.  Patches stay
installed for the whole run; while `Tracer.on` is False every wrapper
calls straight through, so traced and untraced passes can interleave
in one process and `trace.overhead_ratio` compares them.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "t0", "dur", "child", "py4j0", "py4j", "op", "nested")

    def __init__(self, name, op, nested, py4j0):
        self.name, self.op, self.nested = name, op, nested
        self.t0 = time.perf_counter()
        self.child = 0.0
        self.py4j0 = py4j0
        self.dur = 0.0
        self.py4j = 0

    @property
    def self_time(self) -> float:
        return self.dur - self.child


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self.events: list = []
        self.py4j = 0
        self.ops: list[tuple[str, str]] = []  # (kind, label) per op index
        self._tls = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        st = self._stack()
        op = st[0].op if st else -1
        s = Span(name, op, any(p.name == name for p in st), self.py4j)
        st.append(s)
        try:
            yield
        finally:
            s.dur = time.perf_counter() - s.t0
            s.py4j = self.py4j - s.py4j0
            st.pop()
            if st:
                st[-1].child += s.dur
            self.spans.append(s)

    @contextmanager
    def op(self, kind: str, label: str):
        """Root span of one client operation."""
        if not self.on:
            yield
            return
        self.ops.append((kind, label))
        st = self._stack()
        s = Span("op", len(self.ops) - 1, False, self.py4j)
        st.append(s)
        try:
            yield
        finally:
            s.dur = time.perf_counter() - s.t0
            s.py4j = self.py4j - s.py4j0
            st.pop()
            self.spans.append(s)

    # -- patching -------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def inner(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, inner)

    def install(self) -> None:
        import py4j.clientserver

        import hyperspace_spark.hyperspace as hsmod
        from hyperspace_spark import fs, telemetry
        from hyperspace_spark.indexes import covering, dataskipping, inverted, zorder
        from hyperspace_spark.metadata.log_manager import IndexLogManager

        for attr, name in [
            ("parse_df", "planner.parse"),
            ("collect_candidates", "planner.candidates"),
            ("optimize", "planner.optimize"),
            ("replay", "planner.replay"),
        ]:
            self._wrap(hsmod, attr, name)
        self._wrap(hsmod.Hyperspace, "_apply_with_info", "hyperspace.apply")
        for attr in ("create_index", "refresh_index", "optimize_index", "vacuum_outdated_indexes"):
            self._wrap(hsmod.Hyperspace, attr, "hyperspace.lifecycle")
        for mod, kind in [
            (covering, "covering"),
            (zorder, "zorder"),
            (dataskipping, "dataskipping"),
            (inverted, "inverted"),
        ]:
            self._wrap(mod, "create_index_data", f"indexes.{kind}.build")
        for attr in ("get_latest_id", "get_log", "get_latest_log", "get_latest_stable_log", "stable_history"):
            self._wrap(IndexLogManager, attr, "metadata.read")
        for attr in ("write_log", "update_latest_stable", "delete_latest_stable"):
            self._wrap(IndexLogManager, attr, "metadata.write")
        for cls in (fs.FileSystem, fs.HadoopFileSystem):
            for attr in ("list_dir", "list_files_recursive"):
                if attr in vars(cls):
                    self._wrap(cls, attr, "fs.list")

        conn = py4j.clientserver.ClientServerConnection
        orig_send = conn.send_command
        tracer = self

        @functools.wraps(orig_send)
        def send_command(self_, command, *args, **kwargs):
            if tracer.on:
                tracer.py4j += 1
            return orig_send(self_, command, *args, **kwargs)

        conn.send_command = send_command

        def on_event(ev):
            if tracer.on:
                st = tracer._stack()
                tracer.events.append((st[0].op if st else -1, ev))

        telemetry.on_event(on_event)

    # -- aggregation ----------------------------------------------------
    def op_spans(self, kind: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == "op" and (kind is None or self.ops[s.op][0] == kind)
        ]

    def per_op(self, name: str, ops: list[Span], field: str = "dur") -> list[float]:
        """For each op, the summed `field` of its outermost `name` spans."""
        want = {s.op: 0.0 for s in ops}
        for s in self.spans:
            if s.name == name and not s.nested and s.op in want:
                want[s.op] += getattr(s, field)
        return [want[s.op] for s in ops]

    def count_per_op(self, name: str, ops: list[Span]) -> list[int]:
        want = {s.op: 0 for s in ops}
        for s in self.spans:
            if s.name == name and not s.nested and s.op in want:
                want[s.op] += 1
        return [want[s.op] for s in ops]

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and not s.nested]

    def unattributed_share(self, ops: list[Span]) -> float:
        wall = sum(s.dur for s in ops)
        return sum(s.self_time for s in ops) / wall if wall else 0.0

    def event_ms(self, kind: str, detail: str | None = None) -> list[float]:
        return [
            float(e.duration_ms)
            for _op, e in self.events
            if e.kind == kind and (detail is None or detail in e.detail)
        ]

    def events_of(self, kind: str, ops: list[Span]) -> dict[int, list]:
        """Events of `kind` raised inside each of `ops`, by op index."""
        want = {s.op: [] for s in ops}
        for op, e in self.events:
            if e.kind == kind and op in want:
                want[op].append(e)
        return want


def p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def plan_metrics(df) -> dict:
    """Scan and exchange metrics of the executed (AQE-final) plan of a
    collected frame, read over py4j."""
    out = {"files": 0, "bytes": 0, "rows": 0, "shuffle_bytes": 0, "exchanges": 0}

    def metric(node, key):
        m = node.metrics().get(key)
        return int(m.get().value()) if m.isDefined() else 0

    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if "Exchange" in cls:
            out["exchanges"] += 1
            out["shuffle_bytes"] += metric(node, "dataSize")
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            out["files"] += metric(node, "numFiles")
            out["bytes"] += metric(node, "filesSize")
            out["rows"] += metric(node, "numOutputRows")
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out
