"""adhoc_query: one closed-loop, read-only client running queries from
the query library and collecting each result with ``toPandas``.

Ingest, IVM and cursors sit idle; catalog scans, the operator and
function library, Catalyst and Spark execution do all the work, so
this workload is the control for any ingest or IVM change. Every
result is checked against the digest of the query's DuckDB oracle
SQL over the same parquet files.
"""

from __future__ import annotations

import hashlib
import math
import random
import time
from collections import defaultdict

from perfbench import datagen
from perfbench.harness import WORK, median, nproc, summary
from perfbench.workload import Workload, named

# bench.py's headline list, trimmed to fit a 10 s run on a 4-core host
# with three timed passes: one query per family that does not need the
# documents/embeddings corpora (see README.md for the full rationale).
QUERY_SET = [
    "q1_pricing_summary",     # scan + aggregate, exact money sums
    "q3_shipping_priority",   # 3-way join + top-k
    "q9_profit_by_nation",    # 6-way join + aggregate
    "window_topk_per_group",  # window function
    "tumble_events_15m",      # event-time tumbling window
    "events_json_extract",    # JSON functions
]
SF = 0.1
# untimed passes before the window: the first compiles each query, the
# others let the JVM's shared code paths reach their steady JIT tier
# (bench.py warms the same way). After two, the next pass still ran
# 10-25% slower than the passes after it on a 4-core host.
WARMUP_PASSES = 3
TINY_SF = 0.001
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def query_set() -> list[str]:
    from bench import BENCH_QUERIES

    missing = [q for q in QUERY_SET if q not in BENCH_QUERIES]
    if missing:
        raise RuntimeError(f"queries not in bench.py's headline list: {missing}")
    return [q for q in BENCH_QUERIES if q in QUERY_SET]


def digest(pdf) -> str:
    """Row count and hash of a pandas result: rows sorted, columns by
    name, cells normalized by the oracle sweep's pandas-path rules, so
    Spark's toPandas and DuckDB's df() agree on equal values."""
    from tools.verify_queries import pandas_cell

    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(pandas_cell(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def geomean(xs) -> float:
    """Geometric mean: every query weighs the same, however long it runs."""
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class AdhocQuery(Workload):
    name = "adhoc_query"

    def __init__(self, seed: int, tiny: bool = False) -> None:
        super().__init__(seed, tiny)
        self.names = query_set()
        self.order_rng = random.Random(seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.spans: dict[str, list] = defaultdict(list)
        self.oracle: dict[str, str] = {}
        self.passes = 0
        self.sessions: list = []

    def prepare(self, run) -> None:
        """Generate the data once per checkout, then compute the oracle
        digests with DuckDB before the JVM exists."""
        import duckdb

        from risingwave_py_spark import registry

        self.sf_dir = str(datagen.ensure(WORK / "data", TINY_SF if self.tiny else SF))
        registry.load_all()
        self.registry = registry
        with duckdb.connect() as con:
            con.execute(f"SET threads TO {nproc()}")
            con.execute(f"SET temp_directory = '{run.tmp}/duckdb'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in self.names:
                try:
                    self.oracle[q] = digest(con.execute(registry.ORACLES[q]).df())
                except Exception:  # noqa: BLE001 — its runs will count as failed
                    self.oracle[q] = "oracle failed"
                    self.errors.append(f"oracle {q} failed")

    def setup(self, conn, rep: int) -> None:
        """A fresh client session over the data set: SQL session state,
        temp views over the tables, resolved file listings."""
        from risingwave_py_spark import catalog

        sess = conn.engine.spark.newSession()
        catalog.ensure_views(sess, self.sf_dir)
        self.sessions.append(sess)  # keep every session alive
        self.sess = sess

    def _run_one(self, q: str, tracer) -> None:
        fn = self.registry.QUERIES[q]
        if tracer is None:
            a = time.perf_counter()
            pdf = fn(self.sess, self.sf_dir).toPandas()
            el = time.perf_counter() - a
        else:
            a = time.perf_counter()
            with tracer.span(f"query.{q}") as sp:
                with tracer.span("query.build"):
                    df = fn(self.sess, self.sf_dir)
                with tracer.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("query.run"):
                    pdf = df.toPandas()
            el = time.perf_counter() - a
            self.spans[q].append(sp)
        self.samples[q].append(el * 1000)
        got = digest(pdf)
        self.record(got == self.oracle.get(q), f"{q}: digest {got} != oracle {self.oracle.get(q)}")

    def _pass(self, tracer, timed: bool) -> None:
        order = list(self.names)
        self.order_rng.shuffle(order)
        for q in order:
            if timed:
                try:
                    self._run_one(q, tracer)
                except Exception:  # noqa: BLE001 — a failed query is counted
                    self.record_error(q)
            else:
                self.registry.QUERIES[q](self.sess, self.sf_dir).toPandas()

    def warmup(self) -> None:
        for _ in range(WARMUP_PASSES):
            self._pass(None, timed=False)

    def measure(self, seconds: float, tracer) -> None:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            self._pass(tracer, timed=True)
            self.passes += 1

    def _per_query(self) -> dict[str, float]:
        return {q: median(self.samples[q]) for q in self.names if self.samples[q]}

    def headline(self) -> dict[str, float]:
        per = self._per_query()
        return {"primary_ms": sum(per.values()), "secondary_ms": geomean(per.values())}

    def named(self) -> list[dict]:
        per = self._per_query()
        every = summary([x for q in self.names for x in self.samples[q]])
        return [
            named("query_suite_s", sum(per.values()) / 1000, "s", "lower",
                  queries=len(per), passes=self.passes),
            named("query_geomean_ms", geomean(per.values()), "ms", "lower",
                  queries=len(per)),
            named("query_tail_ms", every["tail"], "ms", "lower",
                  percentile=every["tail_p"], n=every["n"]),
            *(named(f"query.{q}_ms", v, "ms", "lower", n=len(self.samples[q]))
              for q, v in per.items()),
        ]

    def layer_extra(self, jobs: list[dict]) -> dict[str, float]:
        from perfbench.tracing import jobs_in

        by_group = defaultdict(list)
        for j in jobs:
            by_group[j["group"]].append(j)
        m: dict[str, float] = {}
        phase = defaultdict(float)
        counts = defaultdict(float)
        for q in self.names:
            sps = self.spans.get(q, [])
            m[f"query.{q}.ms"] = median([s.ms for s in sps])
            for ph in ("build", "plan", "run"):
                phase[ph] += median([c.ms for s in sps for c in s.children
                                     if c.name == f"query.{ph}"])
            per_run = []
            for s in sps:
                js = jobs_in(s, by_group)
                st = [x for j in js for x in j["stages"]]
                per_run.append((len(js), len(st), sum(x["tasks"] for x in st),
                                sum(x["shuffle_bytes"] for x in st)))
            for i, key in enumerate(("jobs", "stages", "tasks", "shuffle_bytes")):
                counts[key] += median([r[i] for r in per_run])
        for ph in ("build", "plan", "run"):
            m[f"query.{ph}_ms"] = phase[ph]
        for key in ("jobs", "stages", "tasks", "shuffle_bytes"):
            m[f"query.{key}"] = counts[key]
        return m

    def facts(self) -> dict:
        return {"sf": TINY_SF if self.tiny else SF, "queries": self.names,
                "passes": self.passes, "oracle_digests": self.oracle,
                "samples_ms": dict(self.samples)}
