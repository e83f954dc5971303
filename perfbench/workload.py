"""The interface every workload implements, and small shared helpers."""

from __future__ import annotations

import threading
import time
import traceback


ERROR_CHARS = 2000  # of each failed op's message kept in the report


class Workload:
    """One named workload. The runner calls, in order: ``prepare``
    (before the JVM starts), ``setup`` once per set-up repetition,
    ``discard`` for every repetition but the last, ``start``,
    ``warmup``, ``measure``, ``check``, ``stop``."""

    name = ""

    def __init__(self, seed: int, tiny: bool = False) -> None:
        self.seed = seed
        self.tiny = tiny
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # lifecycle ---------------------------------------------------------
    def prepare(self, run) -> None:
        pass

    def setup(self, conn, rep: int) -> None:
        raise NotImplementedError

    def discard(self, conn, rep: int) -> None:
        pass

    def start(self, conn) -> None:
        pass

    def warmup(self) -> None:
        pass

    def measure(self, seconds: float, tracer) -> None:
        raise NotImplementedError

    def check(self) -> None:
        pass

    def stop(self) -> None:
        pass

    # results -----------------------------------------------------------
    def headline(self) -> dict[str, float]:
        """``primary_ms`` and ``secondary_ms`` for the contract."""
        raise NotImplementedError

    def named(self) -> list[dict]:
        """The workload's own end-to-end metrics, by name."""
        return []

    def layer_extra(self, jobs: list[dict]) -> dict[str, float]:
        """Per-layer metrics the workload measures itself, given the
        Spark jobs of the measured window."""
        return {}

    def facts(self) -> dict:
        return {}

    def ledger(self) -> dict | None:
        return None

    # accounting --------------------------------------------------------
    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what[:ERROR_CHARS])

    def record_error(self, what: str) -> None:
        self.record(False, f"{what}: {traceback.format_exc(limit=3)}")


def sleep_until(t: float, stop: threading.Event | None = None) -> None:
    while True:
        left = t - time.perf_counter()
        if left <= 0:
            return
        if stop is not None and stop.is_set():
            return
        time.sleep(min(left, 0.05))


def named(name: str, value, unit: str, better: str, **extra) -> dict:
    return {"name": name, "value": value, "unit": unit, "better": better, **extra}
