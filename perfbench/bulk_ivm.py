"""bulk_ivm: one closed-loop client doing bulk ingest into a growing
fact table that joins a small dimension, with three MVs that cover
the Spark-side maintenance regimes.

Ops alternate between a commit, which inserts a fixed-size pandas
frame with ``insert(force_flush=True)``, and a retraction, which runs
an UPDATE of one group and a DELETE of another, then FLUSH. Every
delta is far above the engine's 512-row direct-refresh cap, so Spark
write jobs and Spark-side IVM do the work, and the base keeps growing
so regimes that cost O(delta) and regimes that cost O(base) come
apart.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from perfbench.harness import median, summary
from perfbench.regimes import RegimeLedger
from perfbench.workload import Workload, named

N_DIM = 50
N_REGION = 5
N_GROUP = 200
BASE_ROWS = 20_000
FRAME_ROWS = 2_000
RETRACT_EVERY = 2  # ops 1, 3, 5, ... are retractions

MVS = {
    # integer sums: single-table incremental aggregate
    "grp_qty": "SELECT grp, count(*) AS n, sum(qty) AS q FROM {s}.fact GROUP BY grp",
    # integer sums over the join: incremental join+aggregate
    "region_qty": "SELECT d.region, count(*) AS n, sum(f.qty) AS q "
                  "FROM {s}.fact f JOIN {s}.dim d ON f.dim_id = d.dim_id "
                  "GROUP BY d.region",
    # a DOUBLE sum over the join arms no incremental plan: snapshot-diff
    "region_amt": "SELECT d.region, sum(f.amount) AS amt "
                  "FROM {s}.fact f JOIN {s}.dim d ON f.dim_id = d.dim_id "
                  "GROUP BY d.region",
}


class BulkIvm(Workload):
    name = "bulk_ivm"

    def __init__(self, seed: int, tiny: bool = False) -> None:
        super().__init__(seed, tiny)
        self.rng = np.random.default_rng(seed)
        self.base_rows = 2_000 if tiny else BASE_ROWS
        self.frame_rows = 600 if tiny else FRAME_ROWS
        self.next_id = 0
        self.commits: list[float] = []
        self.retracts: list[float] = []
        self.rows_in = 0
        self.commit_time = 0.0
        self._ledger_out: dict | None = None

    def frame(self, n: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + n, dtype="int64")
        self.next_id += n
        return pd.DataFrame({
            "id": ids,
            "dim_id": self.rng.integers(0, N_DIM, n).astype("int64"),
            "grp": self.rng.integers(0, N_GROUP, n).astype("int64"),
            "qty": self.rng.integers(1, 100, n).astype("int64"),
            "amount": self.rng.integers(100, 100_000, n) / 100.0,
        })

    def setup(self, conn, rep: int) -> None:
        s = f"pb_bulk{rep}"
        conn.execute(f"CREATE SCHEMA IF NOT EXISTS {s}")
        conn.execute(f"CREATE TABLE {s}.dim (dim_id BIGINT, region STRING)")
        conn.execute(f"CREATE TABLE {s}.fact (id BIGINT, dim_id BIGINT, grp BIGINT, "
                     "qty BIGINT, amount DOUBLE)")
        for name, stmt in MVS.items():
            conn.execute(f"CREATE MATERIALIZED VIEW {s}.{name} AS {stmt.format(s=s)}")
        self.conn = conn
        self.schema = s

    def discard(self, conn, rep: int) -> None:
        for name in MVS:
            conn.execute(f"DROP MATERIALIZED VIEW pb_bulk{rep}.{name}")

    def start(self, conn) -> None:
        self._ledger = RegimeLedger(conn.engine, [f"{self.schema}.{m}" for m in MVS])

    def warmup(self) -> None:
        dim = pd.DataFrame({
            "dim_id": np.arange(N_DIM, dtype="int64"),
            "region": [f"region{i % N_REGION}" for i in range(N_DIM)],
        })
        self.conn.insert(dim, "dim", schema_name=self.schema)
        self.conn.insert(self.frame(self.base_rows), "fact", schema_name=self.schema,
                         force_flush=True)

    def _op(self, k: int) -> None:
        s = self.schema
        if k % RETRACT_EVERY == RETRACT_EVERY - 1:
            g_upd, g_del = (int(g) for g in self.rng.choice(N_GROUP, 2, replace=False))
            a = time.perf_counter()
            self.conn.execute(f"UPDATE {s}.fact SET qty = qty + 1 WHERE grp = {g_upd}")
            self.conn.execute(f"DELETE FROM {s}.fact WHERE grp = {g_del}")
            self.conn.execute("FLUSH")
            self.retracts.append((time.perf_counter() - a) * 1000)
        else:
            f = self.frame(self.frame_rows)
            a = time.perf_counter()
            self.conn.insert(f, "fact", schema_name=s, force_flush=True)
            el = time.perf_counter() - a
            self.commits.append(el * 1000)
            self.commit_time += el
            self.rows_in += len(f)

    def measure(self, seconds: float, tracer) -> None:
        self._ledger.start()
        t_end = time.perf_counter() + seconds
        k = 0
        # at least one commit and one retraction, however short the run
        while time.perf_counter() < t_end or k < RETRACT_EVERY:
            try:
                if tracer is not None:
                    with tracer.span("op.bulk", jobs=False):
                        self._op(k)
                else:
                    self._op(k)
                self.record(True)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                self.record_error(f"op {k}")
            k += 1
        self._ledger_out = self._ledger.finish()

    def check(self) -> None:
        """Each MV equals a fresh recomputation of its own SELECT."""
        for name, stmt in MVS.items():
            got = sorted(self.conn.fetch(f"SELECT * FROM {self.schema}.{name}"))
            want = sorted(self.conn.fetch(stmt.format(s=self.schema)))
            self.record(_same(got, want), f"MV {name} differs from its SELECT")

    def headline(self) -> dict[str, float]:
        return {"primary_ms": median(self.commits), "secondary_ms": median(self.retracts)}

    def named(self) -> list[dict]:
        c, r = summary(self.commits), summary(self.retracts)
        return [
            named("ingest_rows_per_s",
                  self.rows_in / self.commit_time if self.commit_time else 0.0,
                  "1/s", "higher"),
            named("commit_p50_ms", c["p50"], "ms", "lower", n=c["n"]),
            named("commit_tail_ms", c["tail"], "ms", "lower", percentile=c["tail_p"], n=c["n"]),
            named("retract_p50_ms", r["p50"], "ms", "lower", n=r["n"]),
        ]

    def facts(self) -> dict:
        return {"frame_rows": self.frame_rows, "base_rows": self.base_rows,
                "retract_every": RETRACT_EVERY, "fact_rows_inserted": self.next_id,
                "commits": len(self.commits), "retracts": len(self.retracts)}

    def ledger(self) -> dict | None:
        return self._ledger_out


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal, doubles to a relative 1e-9 (a sum of doubles
    depends on the order Spark adds them in)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 1e-9 * max(abs(x), abs(y), 1.0):
                    return False
            elif x != y:
                return False
    return True
