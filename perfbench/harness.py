"""Shared plumbing for the SDK benchmark.

Everything here is workload-neutral: the per-run directory inside the
checkout, the Spark session the SDK runs on, statistics, host facts,
and probes of the Python process, the JVM child and Spark's status
store. Importing this module starts nothing.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = ROOT / "risingwave_py_spark"

# Tail percentiles are taken from this ladder: the highest rung that
# leaves at least TAIL_MIN_BEYOND samples beyond it.
TAIL_LADDER = (50, 75, 80, 90, 95, 99)
TAIL_MIN_BEYOND = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- statistics --------------------------------------------------------------


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1))
    return s[k]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND
    samples beyond it, with the sample count; ``p`` is None when the
    sample is too small for any rung."""
    n = len(xs)
    rung = None
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= TAIL_MIN_BEYOND:
            rung = p
    return {
        "p": rung,
        "value": percentile(xs, rung) if rung is not None else None,
        "n": n,
    }


def summary(xs: list[float]) -> dict:
    """p50 plus the supported tail of a latency sample."""
    t = tail(xs)
    return {"p50": median(xs), "tail_p": t["p"], "tail": t["value"], "n": len(xs)}


# -- host contention -----------------------------------------------------------


def cpu_times() -> list[int]:
    """The host's aggregate CPU times from /proc/stat, in ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings. On a shared host this is what moves the
    same code's times from one quarter-hour to the next; the runner
    reports it for the measured window, and no metric is scaled by it."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


# -- run directory -------------------------------------------------------------


class RunDir:
    """A private directory under the checkout's work dir for one run:
    Spark warehouse, Spark local dirs, temp files. Removed on close."""

    def __init__(self) -> None:
        self.path = WORK / f"run-{os.getpid()}-{time.time_ns()}"
        self.tmp = self.path / "tmp"
        self.local = self.path / "spark-local"
        self.warehouse = self.path / "warehouse"
        for d in (self.tmp, self.local, self.warehouse):
            d.mkdir(parents=True, exist_ok=True)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(run: RunDir) -> None:
    """Process environment for the run, set before pyspark is imported:
    UTC, temp files and Spark local dirs inside the run dir, and the
    engine sized to this host's CPUs as the repo's own tests do."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(run.tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run.local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, str(ROOT))


def start_session(run: RunDir):
    """The engine's own session builder with its defaults; only the
    warehouse and the JVM's temp dir are moved into the run dir."""
    from risingwave_py_spark.session import build_session

    return build_session(
        "perfbench",
        warehouse_dir=str(run.warehouse),
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


# -- probes --------------------------------------------------------------------


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM child."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    return _vm_hwm_mb(os.getpid()) + jvm


class JvmProbe:
    """GC time and heap peaks from the JVM's management beans."""

    def __init__(self, spark) -> None:
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime()
                         for b in self._mf.getGarbageCollectorMXBeans()))

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans()
                if str(p.getType()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


def spark_jobs(spark, min_job_id: int = 0) -> list[dict]:
    """Jobs in Spark's status store (kept with the UI off) with id >=
    ``min_job_id``: group, task count and, per stage, tasks and
    shuffle-write bytes."""
    from py4j.protocol import Py4JError

    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = j.jobId()
        if jid < min_job_id:
            continue
        g = j.jobGroup()
        sids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
        stages = []
        for sid in sids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # skipped stage: never attempted
            if str(st.status()) == "SKIPPED":
                continue
            stages.append({"tasks": st.numTasks(),
                           "shuffle_bytes": st.shuffleWriteBytes()})
        out.append({
            "id": jid,
            "group": g.get() if g.isDefined() else None,
            "stages": stages,
        })
    return out


def next_job_id(spark) -> int:
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1) + 1


# -- facts ---------------------------------------------------------------------


def host_facts() -> dict:
    mem_kb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    versions = {}
    for mod in ("pyspark", "pyarrow", "duckdb", "pandas"):
        try:
            versions[mod] = __import__(mod).__version__
        except ImportError:
            versions[mod] = None
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "python": platform.python_version(),
        "versions": versions,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
    }


def session_facts(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "spark_version": spark.version,
    }


def load_contract() -> dict | None:
    try:
        with open(ROOT / "BENCHMARK.json") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def metric_bound(spec: dict, name: str) -> float:
    return next(float(m["bound"]) for m in spec["end_to_end"] if m["name"] == name)
