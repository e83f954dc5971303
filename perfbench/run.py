"""Run one workload of the SDK benchmark and print its metrics.

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the SDK's layers are wrapped and
the metrics are the per-layer ones. The line before it is a report
with the workload's own named metrics, set-up breakdown, regime
ledger, host and session facts. Each run is also saved under
``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402
from perfbench.workload import named  # noqa: E402

SETUP_REPS = 3


def workloads() -> dict:
    from perfbench.adhoc_query import AdhocQuery
    from perfbench.bulk_ivm import BulkIvm
    from perfbench.tick_stream import TickDashboard, TickStream

    return {w.name: w for w in (TickStream, TickDashboard, BulkIvm, AdhocQuery)}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke test")
    return ap.parse_args(argv)


def previous_results(workload: str, trace: int) -> list[dict]:
    out = []
    for p in sorted((harness.WORK / "results").glob(f"{workload}-t{trace}-*.json")):
        try:
            out.append(json.loads(p.read_text()))
        except (OSError, ValueError):
            continue
    return out


def count_flags(workload: str, metrics: dict, spec: dict) -> dict:
    """Per-layer counts that repeat exactly across this checkout's
    earlier traced runs of the workload, and those that do not."""
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]
    prior = [r["metrics"] for r in previous_results(workload, 1) if "metrics" in r]
    if not prior:
        return {"runs": 1, "repeat": [], "vary": []}
    rep, var = [], []
    for name in counts:
        vals = {json.dumps(p.get(name, {}).get("value")) for p in prior}
        vals.add(json.dumps(metrics.get(name, {}).get("value")))
        (rep if len(vals) == 1 else var).append(name)
    return {"runs": len(prior) + 1, "repeat": rep, "vary": var}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (harness.PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no SDK package at {harness.PACKAGE}; run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2
    spec = harness.load_contract()
    if spec is None:
        print(f"perfbench: no readable BENCHMARK.json at {harness.ROOT}", file=sys.stderr)
        return 2
    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(table)}", file=sys.stderr)
        return 2
    wl = table[args.workload](args.seed, tiny=args.tiny)

    run = harness.RunDir()
    harness.prepare_env(run)
    spark = None
    try:
        t_begin = time.perf_counter()
        wl.prepare(run)
        prepare_s = time.perf_counter() - t_begin

        t0 = time.perf_counter()
        spark = harness.start_session(run)
        from risingwave_py_spark import RisingWave

        conn = RisingWave(spark=spark)
        session_s = time.perf_counter() - t0
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(conn, rep)
            reps.append(time.perf_counter() - t0)
        for rep in range(SETUP_REPS - 1):
            wl.discard(conn, rep)
        setup_s = session_s + harness.median(reps)

        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer, instrument

            tracer = Tracer(spark)
            instrument(tracer, conn)
        wl.start(conn)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        jvm = harness.JvmProbe(spark)
        gc0 = jvm.gc_ms()
        jvm.reset_heap_peak()
        job0 = harness.next_job_id(spark)
        if tracer is not None:
            tracer.recording = True
        cpu0 = harness.cpu_times()
        t0 = time.perf_counter()
        wl.measure(args.seconds, tracer)
        measure_s = time.perf_counter() - t0
        steal = harness.steal_share(cpu0, harness.cpu_times())
        if tracer is not None:
            tracer.recording = False
        gc_ms = jvm.gc_ms() - gc0
        heap_peak_mb = jvm.heap_peak_mb()
        wl.check()

        head = wl.headline()
        e2e = {"setup_s": setup_s, **head}
        rss_mb = harness.peak_rss_mb(spark)
        valid, why_invalid = True, None
        lag = wl.facts().get("gen_lag_p90_ms")  # open-loop workloads only
        if lag is not None:
            bound = harness.metric_bound(spec, "primary_ms")
            if lag > bound * args.seconds * 1000:
                valid = False
                why_invalid = (f"generator lag p90 {lag:.0f} ms is more than "
                               f"{bound:.0%} of the run")
        report = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "valid": valid, "invalid_reason": why_invalid,
            "named": [named("peak_rss_mb", rss_mb, "MB", "lower"),
                      named("failed_share", wl.failed / max(wl.attempted, 1),
                            "ratio", "lower"),
                      *wl.named()],
            "setup": {"prepare_s": prepare_s, "session_s": session_s,
                      "reps_s": reps, "warmup_s": warmup_s, "measure_s": measure_s},
            "workload_facts": wl.facts(),
            "host_steal_share": steal,
            "regime_ledger": wl.ledger(),
            "host": harness.host_facts(),
            "session": harness.session_facts(spark),
            "errors": wl.errors,
        }

        if tracer is not None:
            from perfbench.tracing import layer_metrics, spark_metrics

            jobs = harness.spark_jobs(spark, job0)
            layer, self_ms = layer_metrics(tracer.spans, jobs)
            layer.update(spark_metrics(jobs))
            layer["jvm.gc_ms"] = gc_ms
            layer["jvm.heap_peak_mb"] = heap_peak_mb
            led = wl.ledger() or {}
            ds = led.get("direct_stats_delta", {})
            layer["engine.direct.fallbacks"] = ds.get("fallback", 0)
            layer["engine.direct.rearms"] = ds.get("rearm", 0)
            layer["engine.regime_changes"] = led.get("regime_changes", 0)
            layer.update(wl.layer_extra(jobs))
            # a layer this workload does not reach reads 0
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in units.items()}
            untraced = [r for r in previous_results(wl.name, 0)
                        if r.get("seed") == args.seed]
            report["trace"] = {
                "spans": len(tracer.spans),
                "span_cost_us": tracer.span_cost_us(),
                "self_ms_by_layer": self_ms,
                "traced_headline": head,
                "overhead_vs_untraced": (
                    {k: head[k] - untraced[-1]["headline"][k] for k in head}
                    if untraced else None),
                "counts": count_flags(wl.name, metrics, spec),
            }
            tracer.unwrap_all()
            spans_path = harness.WORK / "results" / (
                f"spans-{wl.name}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json")
            spans_path.parent.mkdir(parents=True, exist_ok=True)
            spans_path.write_text(json.dumps([s.as_dict() for s in tracer.spans]))
            report["trace"]["spans_file"] = str(spans_path.relative_to(harness.ROOT))
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}

        result = {
            "correct": bool(valid and wl.failed == 0 and wl.attempted > 0),
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }
        saved = {**result, "seed": args.seed, "headline": head, "e2e": e2e,
                 "report": report}
        out = harness.WORK / "results" / (
            f"{wl.name}-t{args.trace}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}"
            f"-{os.getpid()}.json")
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(saved, default=str))
        print(json.dumps({"report": report}, default=str))
        print(json.dumps(result))
        return 0
    except Exception:  # noqa: BLE001 — report, print no result, fail the run
        traceback.print_exc()
        return 1
    finally:
        try:
            wl.stop()
        finally:
            if spark is not None:
                harness.stop_session(spark)
            run.close()


if __name__ == "__main__":
    sys.exit(main())
