"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 12 --trace 0

Workloads: ``bulk_backfill`` and ``follow_trickle`` (see
perfbench/METRICS.md). Inputs are generated from ``--seed``; outputs
are checked against an oracle outside the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(``setup_s``, ``latency_p50_ms``). With
``--trace 1`` the run splits ``--seconds`` between one traced and then
one untraced window (plus, on ``follow_trickle``, a traced read probe
and curation-query pass) and the last line carries the per-layer
metrics instead; the spans are written to ``.perfbench_work/traces/``.
The line before the last holds the workload's own named metrics (for
example ``ingest_eps``) and ``host_steal_pct``, the share of CPU time
the host gave to other guests up to the end of the window.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback

import harness
from harness import median

NAMES = ("bulk_backfill", "follow_trickle")


def run(name: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One run; returns the contract result plus the detail metrics."""
    harness.require_package()
    import tracing
    from workloads import LAYER_UNITS, WORKLOADS, layer_metrics

    from ethereum_etl_airflow_spark import session

    work = harness.make_workdir(f"{name}-seed{seed}")
    tracer = tracing.Tracer(f"{name}-seed{seed}") if trace else None
    if tracer is not None:
        tracing.install(tracer)
        tracer.enabled = True
    spark = wl = None
    try:
        jiffies = harness.cpu_jiffies()
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = harness.start_session(session.get_spark, work)
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[name](
                spark,
                seed,
                str(work),
                tracer,
                scale=scale,
                windows=2 if trace else 1,
                seconds=seconds,
            )
            wl.setup()
            setup_s = session_s + wl.fixture_s
            harness.log(
                f"session {session_s:.1f} s, set-up {setup_s:.1f} s"
                f" (wall {time.perf_counter() - t0:.1f} s)"
            )
            if tracer is not None:
                tracer.enabled = False
            wl.warmup()
            harness.log(f"warm-up done at {time.perf_counter() - t0:.1f} s")
            if tracer is not None:
                tracer.enabled = True
                traced = wl.measure()
                tracer.enabled = False
            window = wl.measure()
            steal, total = (b - a for a, b in zip(jiffies, harness.cpu_jiffies()))
            harness.log(
                f"measured until {time.perf_counter() - t0:.1f} s; latencies (s): "
                + " ".join(f"{x:.3f}" for x in window.latencies)
            )
            reads_since = None
            if tracer is not None:
                wl.prepare_reads()
                tracer.enabled = True
                reads_since = wl.read_probe()
                tracer.enabled = False
            attempted, failed = wl.check()
            harness.log(f"checked at {time.perf_counter() - t0:.1f} s")
        detail = {
            "setup_s": (setup_s, "s"),
            "session_start_s": (session_s, "s"),
            "failed_ops_ratio": (failed / attempted if attempted else 1.0, "ratio"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "host_steal_pct": (100 * steal / total if total else 0.0, "%"),
            "cpu_per_event_us": (window.cpu_per_event_us, "us"),
            "latency_p50_ms": (1000 * median(window.latencies), "ms"),
            "throughput_per_s": (window.throughput, "1/s"),
            **wl.report(window),
        }
        tail = harness.tail(window.latencies)
        if tail is not None:
            detail[f"latency_p{tail[0]}_ms"] = (1000 * tail[1], "ms")
        if tracer is None:
            metrics = {k: detail[k] for k in ("setup_s", "latency_p50_ms")}
        else:
            layers = dict.fromkeys(LAYER_UNITS, 0.0)
            layers.update(layer_metrics(tracer, traced, wl, reads_since))
            layers["peak_rss_mb"] = rss.peak_mb
            layers["throughput_per_s"] = window.throughput
            layers["cpu_per_event_us"] = window.cpu_per_event_us
            base = median(window.typical)
            layers["trace_overhead_ratio"] = (median(traced.typical) - base) / base
            if name == "bulk_backfill":
                one = wl.single_core_eps()
                layers["ingest_eps_1core"] = one
                layers["scaling_eff"] = window.throughput / (harness.CORES * one)
                detail["ingest_eps_1core"] = (one, "1/s")
                detail["scaling_eff"] = (layers["scaling_eff"], "ratio")
            metrics = {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            harness.stop_session(spark)
        if tracer is not None:
            tracer.uninstall()
            tracer.write(str(harness.WORK_ROOT / "traces" / f"{name}-seed{seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    def fmt(d):
        return {k: {"value": float(v), "unit": u} for k, (v, u) in d.items()}

    return {
        "detail": fmt(detail),
        "result": {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": fmt(metrics),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print("perfbench detail " + json.dumps(out["detail"]), flush=True)
    harness.emit(out["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
