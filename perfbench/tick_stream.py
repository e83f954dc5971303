"""tick_stream: the reference demo's traffic as an open loop.

One generator thread sends ticks on a fixed schedule through
``insert_row``; the last row of a tick carries ``force_flush=True``.
Three MVs are attached and two ``on_change`` subscribers poll at the
default interval. After each tick's ``FLUSH`` returns, the generator
fetches the per-symbol MV, like a dashboard that reads its own writes.
Nothing here but that read should need a Spark job: buffering, direct
ingest, driver-side MV refresh and cursor fetch do the work.

``tick_dashboard`` is the same traffic with the dashboard reader on a
thread of its own, at a fixed rate, as a separate client would run
it. It is not in BENCHMARK.json: its reads race the engine's
direct refresh (see README.md), so its runs fail while that defect
stands, and the contract's workloads must be ones on which no
operation fails.
"""

from __future__ import annotations

import datetime as dt
import random
import threading
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from perfbench.harness import median, summary
from perfbench.regimes import RegimeLedger
from perfbench.tracing import lag_p90_ms
from perfbench.workload import Workload, named, sleep_until

SYMBOLS = [f"sym{i:02d}" for i in range(12)]
# Zipf-like skew: the first symbol is 12x as frequent as the last.
WEIGHTS = [1.0 / (i + 1) for i in range(len(SYMBOLS))]
LATE_SHARE = 0.1  # ticks stamped into an earlier 1-minute window
EVENT_STEP = dt.timedelta(seconds=5)  # event time advanced per tick
EPOCH0 = dt.datetime(2024, 1, 1)

# Open-loop rates. The i-th tick or read is due at (i + u) / rate with
# u uniform in [0, JITTER) from the seed, so the schedule's phase
# against the subscribers' 100 ms poll varies within a run. Closed-loop
# capacity, measured on a 4-core host: a tick took 370-420 ms in the
# host's fast phases (about 2.5 ticks per second) and 1-1.5 s in its
# slowest. One tick per second is 40% of the fast capacity; at 1.5
# ticks per second a slow phase queued ticks behind each other.
TICK_RATE = 1.0  # ticks per second
READ_RATE = 2.0  # tick_dashboard's reader fetches per second
JITTER = 0.3
# closed-loop ticks, each followed by a dashboard read, before the
# window: a tick's latency falls over its first ten or so ticks while
# the JVM compiles the catalog calls of the ingest and refresh paths,
# and the first read, which plans the SELECT, takes 4x a later one
WARMUP_TICKS = 12
DRAIN_S = 20.0  # wait for subscribers to catch up after the window

TABLE_DDL = ("CREATE TABLE {s}.tick (seq BIGINT, rid BIGINT, symbol STRING, "
             "ts TIMESTAMP, price DOUBLE, qty BIGINT)")
MVS = {
    "per_sym": "SELECT symbol, count(*) AS n, sum(qty) AS volume "
               "FROM {s}.tick GROUP BY symbol",
    "avg_px": "SELECT symbol, round(avg(price)) AS avg_price "
              "FROM {s}.tick WHERE price >= 200 GROUP BY symbol",
    "tumble_px": "SELECT window_start, window_end, symbol, avg(price) AS avg_price, "
                 "max(seq) AS last_seq "
                 "FROM tumble({s}.tick, ts, interval '1 minute') "
                 "GROUP BY window_start, window_end, symbol",
}


def make_ticks(seed: int, n: int) -> list[list[dict]]:
    """``n`` ticks of 1-5 rows each over skewed symbols; about one in
    ten is stamped into an earlier window."""
    rng = random.Random(seed)
    ticks, rid = [], 0
    for seq in range(n):
        ts = EPOCH0 + seq * EVENT_STEP
        if seq > 0 and rng.random() < LATE_SHARE:
            ts -= dt.timedelta(seconds=rng.randint(60, 180))
        rows = []
        for _ in range(rng.randint(1, 5)):
            rows.append({
                "seq": seq, "rid": rid,
                "symbol": rng.choices(SYMBOLS, WEIGHTS)[0],
                "ts": ts,
                "price": float(rng.randint(100, 500)),
                "qty": rng.randint(1, 10),
            })
            rid += 1
        ticks.append(rows)
    return ticks


def _round_half_up(x: float, nd: int = 0) -> float:
    # Spark's ROUND on a double: the decimal form of the double, HALF_UP
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def expected_mvs(rows: list[dict]) -> dict[str, list[tuple]]:
    """The three MVs recomputed from the generated rows."""
    per: dict[str, list[int]] = {}
    avg: dict[str, list[float]] = {}
    win: dict[tuple, list] = {}
    for r in rows:
        p = per.setdefault(r["symbol"], [0, 0])
        p[0] += 1
        p[1] += r["qty"]
        if r["price"] >= 200:
            a = avg.setdefault(r["symbol"], [0.0, 0])
            a[0] += r["price"]
            a[1] += 1
        start = r["ts"].replace(second=0, microsecond=0)
        w = win.setdefault((start, start + dt.timedelta(minutes=1), r["symbol"]),
                           [0.0, 0, -1])
        w[0] += r["price"]
        w[1] += 1
        w[2] = max(w[2], r["seq"])
    return {
        "per_sym": sorted((s, n, v) for s, (n, v) in per.items()),
        "avg_px": sorted((s, _round_half_up(t / c)) for s, (t, c) in avg.items()),
        "tumble_px": sorted((ws, we, s, t / c, m)
                            for (ws, we, s), (t, c, m) in win.items()),
    }


class TickStream(Workload):
    name = "tick_stream"
    reader_thread = False  # the generator reads after each tick

    def __init__(self, seed: int, tiny: bool = False) -> None:
        super().__init__(seed, tiny)
        self.ticks = make_ticks(seed, 2000)
        rng = random.Random(seed + 1)
        self.tick_jitter = [rng.uniform(0, JITTER) for _ in range(2000)]
        self.read_jitter = [rng.uniform(0, JITTER) for _ in range(2000)]
        self.schema = ""
        self.sent: list[list[dict]] = []  # ticks whose insert returned
        self.rows_started = 0
        self.rows_committed = 0  # rows of ticks whose FLUSH returned
        self._last_total = 0
        # per measured tick: (seq, due, sent_at, done_at)
        self.schedule: list[tuple[int, float, float, float]] = []
        self.reads: list[float] = []
        self.read_failures = 0
        self.raw_seen: dict[int, float] = {}
        self.raw_rids: Counter = Counter()
        self.mv_arrivals: list[tuple[float, int]] = []
        self.mv_rows: list[tuple] = []
        self.mv_epoch_order_ok = True
        self._last_mv_epoch = -1
        self._stop = threading.Event()
        self._subs: list[threading.Thread] = []
        self._ledger: RegimeLedger | None = None
        self._ledger_out: dict | None = None

    # -- set-up ------------------------------------------------------------
    def setup(self, conn, rep: int) -> None:
        s = f"pb_tick{rep}"
        conn.execute(f"CREATE SCHEMA IF NOT EXISTS {s}")
        conn.execute(TABLE_DDL.format(s=s))
        for name, stmt in MVS.items():
            conn.execute(f"CREATE MATERIALIZED VIEW {s}.{name} AS {stmt.format(s=s)}")
        self.conn = conn
        self.schema = s
        self._read_sql = f"SELECT symbol, n, volume FROM {s}.per_sym"

    def discard(self, conn, rep: int) -> None:
        for name in MVS:
            conn.execute(f"DROP MATERIALIZED VIEW pb_tick{rep}.{name}")

    def start(self, conn) -> None:
        eng = conn.engine
        self._ledger = RegimeLedger(eng, [f"{self.schema}.{m}" for m in MVS])
        s = self.schema
        for rel, handler in (("tick", self._on_raw), ("tumble_px", self._on_mv)):
            th = threading.Thread(
                target=conn.on_change, name=f"sub-{rel}",
                kwargs=dict(subscribe_from=rel, schema_name=s, handler=handler,
                            max_batch_size=10, _stop_event=self._stop),
                daemon=True)
            th.start()
            self._subs.append(th)
        want = {f"{s}.risingwave_py_cursor_default_{r}_sub" for r in ("tick", "tumble_px")}
        deadline = time.perf_counter() + 60
        while not want <= set(eng.cursors) and time.perf_counter() < deadline:
            time.sleep(0.02)
        if not want <= set(eng.cursors):
            raise RuntimeError("subscribers did not declare their cursors")

    # -- subscribers ---------------------------------------------------------
    def _on_raw(self, rows) -> None:
        now = time.perf_counter()
        for r in rows:
            self.raw_seen.setdefault(r[0], now)
            self.raw_rids[r[1]] += 1

    def _on_mv(self, rows) -> None:
        now = time.perf_counter()
        epochs = [r[-1] for r in rows]
        if min(epochs) <= self._last_mv_epoch:
            self.mv_epoch_order_ok = False
        self._last_mv_epoch = max(epochs)
        self.mv_rows.extend(rows)
        top = max((r[4] for r in rows if r[-2] in ("Insert", "UpdateInsert")),
                  default=-1)
        self.mv_arrivals.append((now, top))

    # -- load ---------------------------------------------------------------
    def _send(self, tick: list[dict]) -> None:
        last = len(tick) - 1
        self.rows_started += len(tick)
        for j, row in enumerate(tick):
            self.conn.insert_row("tick", schema_name=self.schema,
                                 force_flush=(j == last), **row)
        self.sent.append(tick)
        self.rows_committed += len(tick)

    def warmup(self) -> None:
        n = 2 if self.tiny else WARMUP_TICKS
        for tick in self.ticks[:n]:
            self._send(tick)
            self.conn.fetch(self._read_sql)
        self._next = n

    def _generator(self, t0: float, t_end: float, tracer) -> None:
        i = 0
        while True:
            tick = self.ticks[self._next + i]
            due = t0 + (i + self.tick_jitter[i]) / TICK_RATE
            if due >= t_end:
                return
            sleep_until(due)
            sent_at = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("op.tick", jobs=False):
                        self._send(tick)
                else:
                    self._send(tick)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                self.record_error(f"tick {tick[0]['seq']}")
                return
            self.schedule.append((tick[0]["seq"], due, sent_at, time.perf_counter()))
            if not self.reader_thread:
                self._read(tracer)
            i += 1

    def _reader(self, t0: float, t_end: float, tracer) -> None:
        i = 0
        while True:
            due = t0 + (i + self.read_jitter[i]) / READ_RATE
            if due >= t_end:
                return
            sleep_until(due)
            i += 1
            self._read(tracer)

    def _read(self, tracer) -> None:
        """One dashboard fetch of the per-symbol MV. Its row total must
        include every tick whose FLUSH returned before the fetch began
        (read-your-writes), no row not yet sent, and never fall below
        an earlier read's."""
        lo = max(self.rows_committed, self._last_total)
        a = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("op.read", jobs=False):
                    rows = self.conn.fetch(self._read_sql)
            else:
                rows = self.conn.fetch(self._read_sql)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.read_failures += 1
            self.record_error("read")
            return
        self.reads.append((time.perf_counter() - a) * 1000)
        total, hi = sum(r[1] for r in rows), self.rows_started
        self.record(lo <= total <= hi,
                    f"read total {total}, expected {lo} to {hi} rows")
        self._last_total = max(self._last_total, total)

    def measure(self, seconds: float, tracer) -> None:
        self._ledger.start()
        t0 = time.perf_counter() + 0.05
        t_end = t0 + seconds
        loops = [self._generator] + ([self._reader] if self.reader_thread else [])
        threads = [threading.Thread(target=f, args=(t0, t_end, tracer),
                                    name=f.__name__.strip("_")) for f in loops]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.attempted += len(self.schedule)
        # let both subscribers see everything that was committed
        last_seq = self.sent[-1][0]["seq"]
        rids = {r["rid"] for t in self.sent for r in t}
        deadline = time.perf_counter() + DRAIN_S
        while time.perf_counter() < deadline:
            mv_top = max((t for _, t in self.mv_arrivals), default=-1)
            if mv_top >= last_seq and rids <= set(self.raw_rids):
                break
            time.sleep(0.05)
        self._ledger_out = self._ledger.finish()

    def stop(self) -> None:
        self._stop.set()
        for th in self._subs:
            th.join(timeout=30)

    # -- correctness ---------------------------------------------------------
    def check(self) -> None:
        self.stop()
        rows = [r for t in self.sent for r in t]
        want = Counter(r["rid"] for r in rows)
        self.record(self.raw_rids == want,
                    f"raw subscriber: {sum((want - self.raw_rids).values())} rows "
                    f"missing, {sum((self.raw_rids - want).values())} extra")
        expect = expected_mvs(rows)
        got = {}
        for name in MVS:
            got[name] = sorted(self.conn.fetch(f"SELECT * FROM {self.schema}.{name}"))
            self.record(got[name] == expect[name], f"MV {name} differs from recomputation")
        fold: Counter = Counter()
        for r in self.mv_rows:
            key = tuple(r[:-2])
            fold[key] += 1 if r[-2] in ("Insert", "UpdateInsert") else -1
        fold = +fold
        self.record(self.mv_epoch_order_ok and fold == Counter(got["tumble_px"]),
                    "tumble_px subscriber: changes do not fold to the MV "
                    "or an epoch was delivered twice")

    # -- results -------------------------------------------------------------
    def _visibility(self) -> tuple[list[float], list[float]]:
        mv, raw = [], []
        arrivals = sorted(self.mv_arrivals)
        for seq, due, _, _ in self.schedule:
            if seq in self.raw_seen:
                raw.append((self.raw_seen[seq] - due) * 1000)
            hit = next((t for t, top in arrivals if top >= seq), None)
            if hit is not None:
                mv.append((hit - due) * 1000)
        return mv, raw

    def lags(self) -> list[float]:
        return [(sent - due) * 1000 for _, due, sent, _ in self.schedule]

    def headline(self) -> dict[str, float]:
        mv, raw = self._visibility()
        return {"primary_ms": median(mv), "secondary_ms": median(self.reads)}

    def named(self) -> list[dict]:
        mv, raw = self._visibility()
        vis, rvis, rd = summary(mv), summary(raw), summary(self.reads)
        ack = summary([(done - sent) * 1000 for _, _, sent, done in self.schedule])
        return [
            named("visibility_p50_ms", vis["p50"], "ms", "lower", n=vis["n"]),
            named("visibility_tail_ms", vis["tail"], "ms", "lower",
                  percentile=vis["tail_p"], n=vis["n"]),
            named("raw_visibility_p50_ms", rvis["p50"], "ms", "lower", n=rvis["n"]),
            named("mv_read_p50_ms", rd["p50"], "ms", "lower", n=rd["n"]),
            named("tick_ack_p50_ms", ack["p50"], "ms", "lower", n=ack["n"]),
            named("mv_read_failures", self.read_failures, "count", "lower"),
        ]

    def layer_extra(self, jobs: list[dict]) -> dict[str, float]:
        return {"gen.events": len(self.schedule), "gen.lag_p90_ms": lag_p90_ms(self.lags())}

    def facts(self) -> dict:
        lags = self.lags()
        mv, raw = self._visibility()
        return {
            "samples_ms": {"visibility": mv, "raw_visibility": raw, "read": self.reads},
            "tick_rate_per_s": TICK_RATE,
            "read_rate_per_s": READ_RATE if self.reader_thread else TICK_RATE,
            "ticks_measured": len(self.schedule), "ticks_total": len(self.sent),
            "rows_total": sum(len(t) for t in self.sent),
            "gen_lag_p90_ms": lag_p90_ms(lags),
            "gen_lag_max_ms": max(lags, default=0.0),
        }

    def ledger(self) -> dict | None:
        return self._ledger_out


class TickDashboard(TickStream):
    """tick_stream with the dashboard reader on its own thread, fetching
    the per-symbol MV READ_RATE times a second whatever the generator
    is doing, so reads overlap the MVs' refreshes."""

    name = "tick_dashboard"
    reader_thread = True
