"""The traced run: per-layer metrics from spans and engine counters.

Every per-layer value is a mean per call of that layer over the traced
operations (per batch on ``ingest``, per request on ``dashboard``);
``spark.*`` counts are per operation. A layer the workload does not
run reports 0. perfbench/METRICS.md maps each layer metric to the
end-to-end metric it should move.
"""

from __future__ import annotations

import time

from pyspark.sql.streaming import StreamingQueryListener

from . import harness

LAYER_UNITS = {
    "session.start_s": "s",
    "sources.graphite.exec_s": "s",
    "sources.graphite.lines_in": "count",
    "sources.graphite.points_out": "count",
    "sources.graphite.rejected": "count",
    "sources.statsd.exec_s": "s",
    "sources.statsd.packets_in": "count",
    "sources.statsd.samples_out": "count",
    "sources.statsd.rejected": "count",
    "aggregator.flush_exec_s": "s",
    "aggregator.series_out": "count",
    "operators.consolidate.exec_s": "s",
    "operators.consolidate.slots_out": "count",
    "operators.consolidate.window_sorts": "count",
    "archive.write_s": "s",
    "archive.bytes_written": "bytes",
    "archive.files_written": "count",
    "archive.read_ms": "ms",
    "archive.route.60": "count",
    "archive.route.600": "count",
    "archive.route.3600": "count",
    "dsl.parser.parse_ms": "ms",
    "dsl.evaluator.build_ms": "ms",
    "dsl.evaluator.eager_jobs": "count",
    "render.plan_ms": "ms",
    "render.jobs": "count",
    "render.exec_ms": "ms",
    "render.tasks": "count",
    "render.files_read": "count",
    "render.bytes_read": "bytes",
    "render.json_ms": "ms",
    "dsl.find.exec_ms": "ms",
    "dsl.find.names_scanned": "count",
    "streaming.ingest.trigger_ms": "ms",
    "streaming.ingest.addBatch_ms": "ms",
    "streaming.ingest.walCommit_ms": "ms",
    "streaming.ingest.queryPlanning_ms": "ms",
    "streaming.ingest.input_rows": "count",
    "streaming.ingest.state_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cache_bytes": "bytes",
    "spark.persisted_rdds": "count",
    "process.peak_rss_mb": "MB",
    "trace_overhead_s": "s",
}


class ProgressListener(StreamingQueryListener):
    """Keeps every StreamingQueryProgress the traced run produces."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def traced_run(spark, tr, wl, n_ops: int, start_s: float, spans_path: str) -> dict:
    """Run ``n_ops`` operations untraced, then the same operations
    traced; returns {metric: (value, unit)} for every layer metric."""
    first_op = getattr(wl, "op_i", None)
    untraced = wl.run_ops(n_ops)
    if first_op is not None:  # replay the same requests
        wl.op_i = first_op
    listener = ProgressListener()
    spark.streams.addListener(listener)
    first_job = tr.last_job_id() + 1
    tr.enabled = True
    t0 = time.perf_counter()
    wl.run_ops(n_ops)
    traced = time.perf_counter() - t0
    tr.enabled = False
    engine, totals = tr.engine_counts(first_job)
    spark.streams.removeListener(listener)
    tr.dump(spans_path)
    out = layer_values(tr, engine, listener.progress, n_ops)
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = totals[k] / n_ops
    out["spark.cache_bytes"], out["spark.persisted_rdds"] = harness.cache_state(spark)
    out["process.peak_rss_mb"] = harness.peak_rss_mb(spark)
    out["session.start_s"] = start_s
    out["trace_overhead_s"] = traced - untraced
    return {k: (out.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}


def layer_values(tr, engine: dict, progress: list, n_ops: int) -> dict:
    by_name: dict[str, list] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)

    def spans(name):
        return by_name.get(name, [])

    def mean(vals):
        vals = list(vals)
        return sum(vals) / len(vals) if vals else 0.0

    def dur(name, scale=1.0, self_only=False):
        return mean(
            (tr.self_time(s) if self_only else s.end - s.start) * scale
            for s in spans(name))

    def count(name, key):
        return mean(s.counts.get(key, 0) for s in spans(name))

    def eng(name, key):
        return mean(engine.get(s.group, {}).get(key, 0) for s in spans(name))

    out = {
        "sources.graphite.exec_s": dur("sources.graphite"),
        "sources.statsd.exec_s": dur("sources.statsd"),
        "aggregator.flush_exec_s": dur("aggregator"),
        "aggregator.series_out": count("aggregator", "series_out"),
        "operators.consolidate.exec_s": dur("operators.consolidate"),
        "operators.consolidate.slots_out": count("operators.consolidate", "slots_out"),
        "operators.consolidate.window_sorts":
            sum(s.counts.get("window_nodes", 0) for s in spans("operators.consolidate")) / n_ops,
        "archive.write_s": dur("archive", self_only=True),
        "archive.bytes_written": count("archive", "bytes_written"),
        "archive.files_written": count("archive", "files_written"),
        "archive.read_ms": dur("archive.read", 1000.0),
        "dsl.parser.parse_ms": dur("dsl.parser", 1000.0),
        "dsl.evaluator.build_ms": dur("dsl.evaluator", 1000.0, self_only=True),
        "dsl.evaluator.eager_jobs": eng("dsl.evaluator", "jobs"),
        "render.plan_ms": dur("render.plan", 1000.0),
        "render.jobs": eng("render.json", "jobs"),
        "render.exec_ms": dur("render.exec", 1000.0),
        "render.tasks": eng("render.exec", "tasks"),
        "render.files_read": count("render.exec", "files_read"),
        "render.bytes_read": eng("render.exec", "input_bytes"),
        "render.json_ms": dur("render.json", 1000.0),
        "dsl.find.exec_ms": dur("dsl.find", 1000.0),
        "dsl.find.names_scanned": count("dsl.find", "names_scanned"),
    }
    for src, keys in (("sources.graphite", ("lines_in", "points_out", "rejected")),
                      ("sources.statsd", ("packets_in", "samples_out", "rejected"))):
        for k in keys:
            out[f"{src}.{k}"] = count(src, k)
    for step in (60, 600, 3600):
        out[f"archive.route.{step}"] = sum(
            s.counts.get(f"route.{step}", 0) for s in spans("request"))
    appends = len(spans("streaming.ingest"))
    if appends:
        for key in ("triggerExecution", "addBatch", "walCommit", "queryPlanning"):
            name = "trigger" if key == "triggerExecution" else key
            out[f"streaming.ingest.{name}_ms"] = sum(
                p.durationMs.get(key, 0) for p in progress) / appends
        out["streaming.ingest.input_rows"] = sum(p.numInputRows for p in progress) / appends
        if progress:
            out["streaming.ingest.state_rows"] = sum(
                s.numRowsTotal for s in progress[-1].stateOperators)
    return out
