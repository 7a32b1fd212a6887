#!/usr/bin/env python3
"""Benchmark of the tgres path: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 18 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is ``{"info": ...}`` with provenance, input sizes and secondary
figures. ``--trace 0`` reports the end-to-end metrics of a timed
window. ``--trace 1`` instead runs a fixed number of operations
untraced, then the same number traced, reports the per-layer metrics
(see perfbench/METRICS.md) and writes its spans to .bench_spans/.
Exit status is 1 when any output fails its correctness check, 2 when
the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

TRACE_OPS = {"ingest": 3, "dashboard": 20}
SPANS_DIR = ".bench_spans"  # the traced run's spans, kept after exit


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.abspath(".bench_work")
    sys.path.insert(0, REPO)
    try:
        import tgres_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program: {ex}", file=sys.stderr)
        return 2
    from perfbench import dashboard, harness, ingest, layers
    from perfbench.trace import Tracer

    harness.prepare_workdir(work)
    cpus = harness.cpu_count()
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "provenance": harness.provenance(cpus)}
    spark, start_s = harness.start_spark(cpus)
    try:
        tr = Tracer(spark, enabled=False)
        cls = {"ingest": ingest.Ingest, "dashboard": dashboard.Dashboard}[args.workload]
        wl = cls(spark, tr, work, args.seed)
        phases = info["phase_s"] = {}
        t_phase = time.perf_counter()
        setup_reps = wl.setup()
        info["setup_reps_s"] = setup_reps
        phases["setup"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        if args.trace == 0:
            steal = harness.StealMeter()
            ops = wl.timed(args.seconds)
            info["provenance"]["cpu_steal_share"] = steal.share()
            metrics = wl.metrics(ops, setup_reps)
            info["peak_rss_mb"] = harness.peak_rss_mb(spark)
            info["op_latencies_s"] = [op[-1] for op in ops]
            info.update(wl.extras(ops))
        else:
            os.makedirs(SPANS_DIR, exist_ok=True)
            metrics = layers.traced_run(
                spark, tr, wl, TRACE_OPS[args.workload], start_s,
                os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
        info["session_start_s"] = start_s
        cache = wl.cache
        info["cache"] = {
            "harness_clears_cache": False,
            "bytes_after_each_op_max": max((c[0] for c in cache), default=0),
            "bytes_after_last_op": cache[-1][0] if cache else 0,
            "persisted_rdds_after_last_op": cache[-1][1] if cache else 0,
        }
        phases["measure"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        attempted, fails = wl.check()
        phases["check"] = time.perf_counter() - t_phase
        attempted += len(wl.errors)
        fails = wl.errors + fails
    finally:
        harness.stop_spark(spark)
    info["failures"] = fails[:20]
    failed = min(len(fails), attempted)
    result = {
        "correct": not fails,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0 if not fails else 1


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        code = 3
    finally:
        shutil.rmtree(os.path.abspath(".bench_work"), ignore_errors=True)
    sys.exit(code)
