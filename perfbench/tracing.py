"""Spans around the SDK's layers, recorded from the benchmark's side.

The traced run wraps entry points of each layer on the live objects
(the connection, the engine, the SQL rewrite module) and records one
span per call: name, start, end, parent, op id. Spans stay in memory
and are reduced to per-layer metrics when the run ends. Spans that
can run Spark jobs also set a Spark job group, so jobs, stages and
tasks are attributed to the span that ran them.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.harness import median, percentile
from perfbench.regimes import REFRESH_PATHS

REPORTED_REGIMES = ("direct", "inc", "inc_joinagg", "snapshot_diff")


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "group",
                 "children", "attrs")

    def __init__(self, sid: int, name: str, parent: "Span | None") -> None:
        self.id = sid
        self.name = name
        self.parent = parent.id if parent is not None else None
        self.op = parent.op if parent is not None else sid
        self.start = self.end = 0.0
        self.group: str | None = None
        self.children: list[Span] = []
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000

    @property
    def self_ms(self) -> float:
        # children run on the span's own thread, one after another
        return self.ms - sum(c.ms for c in self.children)

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "op": self.op, "start": self.start, "end": self.end,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._jsc = spark.sparkContext._jsc if spark is not None else None
        self._patched: list[tuple[object, str, object, bool]] = []
        self.recording = False

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.recording:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._ids), name, parent)
        if jobs and self._jsc is not None:
            sp.group = f"pb-{sp.id}"
            self._jsc.setJobGroup(sp.group, name, False)
        st.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if sp.group is not None:
                if parent is not None and parent.group is not None:
                    self._jsc.setJobGroup(parent.group, parent.name, False)
                else:
                    self._jsc.clearJobGroup()
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    def wrap(self, obj, attr: str, name, jobs: bool = True, on_result=None) -> None:
        """Replace ``obj.attr`` by a traced wrapper. ``name`` is a span
        name or a function of the call's arguments returning one;
        ``on_result(span, result)`` may annotate the span."""
        orig = getattr(obj, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            nm = name(*args, **kwargs) if callable(name) else name
            with tracer.span(nm, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if sp is not None and on_result is not None:
                    on_result(sp, out)
                return out

        own = attr in getattr(obj, "__dict__", {})
        setattr(obj, attr, traced)
        self._patched.append((obj, attr, orig, own))

    def unwrap_all(self) -> None:
        for obj, attr, orig, own in reversed(self._patched):
            if own:
                setattr(obj, attr, orig)
            else:
                delattr(obj, attr)
        self._patched.clear()

    def span_cost_us(self, n: int = 2000) -> dict:
        """Cost of one span, without and with a Spark job group."""
        out = {}
        was = self.recording
        self.recording = True
        kept = len(self.spans)
        try:
            for jobs in (False, True):
                if jobs and self._jsc is None:
                    continue
                t0 = time.perf_counter()
                for _ in range(n):
                    with self.span("trace.calibrate", jobs=jobs):
                        pass
                out["jobs" if jobs else "plain"] = (time.perf_counter() - t0) / n * 1e6
        finally:
            del self.spans[kept:]
            self.recording = was
        return out


# -- instrumentation of the SDK's layers ----------------------------------------


def _rows_of(result) -> int:
    if result is None:
        return 0
    if isinstance(result, tuple) and len(result) == 2:
        return len(result[1])
    try:
        return len(result)
    except TypeError:
        return 0


def instrument(tracer: Tracer, conn) -> None:
    """Wrap the SDK's layer entry points on the live objects."""
    from risingwave_py_spark.plans import rewrite as rw_module

    engine = conn.engine

    def fetch_name(sql, *a, **k):
        return "core.poll" if sql.lstrip().upper().startswith("FETCH") else "core.fetch"

    def note_rows(sp, out):
        sp.attrs["rows"] = _rows_of(out)

    tracer.wrap(conn, "insert_row", "core.insert_row")
    tracer.wrap(conn, "insert", "core.insert")
    tracer.wrap(conn, "fetch", fetch_name, on_result=note_rows)
    tracer.wrap(rw_module, "classify", "rewrite.classify", jobs=False)
    tracer.wrap(rw_module, "rewrite_query", "rewrite.rewrite_query", jobs=False)

    def note_local(sp, out):
        sp.attrs["fallback"] = out is None

    tracer.wrap(engine, "insert_rows_local", "engine.insert_rows_local",
                on_result=note_local)
    for meth in ("insert_df", "update_rows", "delete_rows", "flush",
                 "refresh_mv", "sql"):
        tracer.wrap(engine, meth, f"engine.{meth}")
    tracer.wrap(engine, "fetch_cursor", "engine.fetch_cursor", on_result=note_rows)

    def note_ok(sp, out):
        sp.attrs["ok"] = bool(out)

    for meth, regime in REFRESH_PATHS.items():
        if hasattr(engine, meth):
            tracer.wrap(engine, meth, f"engine.refresh.{regime}", on_result=note_ok)


# -- reduction to per-layer metrics -------------------------------------------------


def refresh_regime(sp: Span) -> str:
    done = [c.name.rsplit(".", 1)[1] for c in sp.children
            if c.name.startswith("engine.refresh.") and c.attrs.get("ok")]
    return done[-1] if done else "snapshot_diff"


def jobs_in(sp: Span, jobs_by_group: dict) -> list[dict]:
    out = list(jobs_by_group.get(sp.group, ()))
    for c in sp.children:
        out.extend(jobs_in(c, jobs_by_group))
    return out


def layer_metrics(spans: list[Span], jobs: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics from the spans and the window's Spark jobs,
    and the self time of each layer (ms, summed over its spans)."""
    by_name: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
    jobs_by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        jobs_by_group[j["group"]].append(j)

    def p50(name: str) -> float:
        return median([s.ms for s in by_name.get(name, [])])

    def jobs_p50(sps: list[Span]) -> float:
        return median([len(jobs_in(s, jobs_by_group)) for s in sps])

    m: dict[str, float] = {}
    core = [s for n in ("core.insert_row", "core.insert", "core.fetch", "core.poll")
            for s in by_name.get(n, [])]
    polls = by_name.get("core.poll", [])
    m["core.insert_row.p50_ms"] = p50("core.insert_row")
    m["core.insert.p50_ms"] = p50("core.insert")
    m["core.fetch.p50_ms"] = p50("core.fetch")
    m["core.self.p50_ms"] = median([s.self_ms for s in core])
    m["core.poll.count"] = len(polls)
    m["core.poll.useful_share"] = (
        sum(1 for s in polls if s.attrs.get("rows")) / len(polls) if polls else 0.0)
    m["rewrite.classify.p50_ms"] = p50("rewrite.classify")
    m["rewrite.rewrite_query.p50_ms"] = p50("rewrite.rewrite_query")

    local = by_name.get("engine.insert_rows_local", [])
    m["engine.insert_rows_local.p50_ms"] = p50("engine.insert_rows_local")
    m["engine.insert_rows_local.fallback_share"] = (
        sum(1 for s in local if s.attrs.get("fallback")) / len(local) if local else 0.0)
    m["engine.insert_df.p50_ms"] = p50("engine.insert_df")
    m["engine.insert_df.jobs"] = jobs_p50(by_name.get("engine.insert_df", []))
    m["engine.update_rows.p50_ms"] = p50("engine.update_rows")
    m["engine.delete_rows.p50_ms"] = p50("engine.delete_rows")

    flushes = by_name.get("engine.flush", [])
    m["engine.flush.p50_ms"] = p50("engine.flush")
    m["engine.flush.self_p50_ms"] = median([s.self_ms for s in flushes])
    refreshes: dict[str, list[Span]] = defaultdict(list)
    for s in by_name.get("engine.refresh_mv", []):
        refreshes[refresh_regime(s)].append(s)
    for regime in REPORTED_REGIMES:
        sps = refreshes.get(regime, [])
        m[f"engine.refresh_mv.{regime}.p50_ms"] = median([s.ms for s in sps])
        m[f"engine.refresh_mv.{regime}.jobs"] = jobs_p50(sps)

    fetches = by_name.get("engine.fetch_cursor", [])
    m["engine.fetch_cursor.p50_ms"] = p50("engine.fetch_cursor")
    m["engine.fetch_cursor.rows"] = sum(s.attrs.get("rows", 0) for s in fetches)
    m["engine.fetch_cursor.jobs"] = sum(len(jobs_in(s, jobs_by_group)) for s in fetches)
    m["engine.sql.p50_ms"] = p50("engine.sql")

    self_ms: dict[str, float] = defaultdict(float)
    for sp in spans:
        self_ms[sp.name.split(".", 1)[0]] += sp.self_ms
    return m, dict(self_ms)


def spark_metrics(jobs: list[dict]) -> dict:
    stages = [st for j in jobs for st in j["stages"]]
    tasks = sum(st["tasks"] for st in stages)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks_per_stage": tasks / len(stages) if stages else 0.0,
    }


def lag_p90_ms(lags_ms: list[float]) -> float:
    return percentile(lags_ms, 90) if lags_ms else 0.0
