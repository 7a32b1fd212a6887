"""``ingest`` workload: protocol line files → durable rollup archives.

Each batch is new data: a graphite line file (2,000 series, one point
per series every 120 s over 10 minutes) and a statsd packet file
(counters, some sampled at @0.1; gauges with +/- deltas; ms timers).
One batch runs read → parse_graphite_lines / parse_statsd_packets →
statsd_flush → materialize_archives with three RRAs, each written as
parquet. No DSL or render code runs.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from tgres_spark import aggregator, archive
from tgres_spark.sources import graphite, statsd

from . import gen, harness, oracle

SPECS = [("wmean", 60), ("max", 600), ("min", 3600)]
N_DC, N_HOST = 4, 50  # x 10 metrics = 2,000 graphite series
EVERY_S, SPAN_S = 120, 600
N_STATSD, STATSD_NAMES = 5_000, 100
SETUP_REPS = 3


class Ingest:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.rng = np.random.default_rng(seed)
        self.names = gen.series_names(N_DC, N_HOST)
        self.idx = 0
        self.results = []  # (batch, points, seconds) of every measured batch
        self.cache = []  # (bytes, persisted RDDs) after every batch
        self.errors: list[str] = []

    # -- one operation --------------------------------------------------

    def root(self, b: gen.Batch) -> str:
        return os.path.join(self.work, "archives", b.name)

    def new_batch(self) -> gen.Batch:
        b = gen.write_batch(
            self.rng, os.path.join(self.work, "inputs"), self.idx,
            self.names, STATSD_NAMES, SPAN_S, EVERY_S, N_STATSD,
        )
        self.idx += 1
        return b

    def run_batch(self, b: gen.Batch) -> tuple[int, float]:
        """Run one batch; returns (accepted points, seconds)."""
        spark, tr = self.spark, self.tr
        root = self.root(b)
        t0 = time.perf_counter()
        with tr.span("ingest.batch", req=b.name):
            lines = spark.read.text(b.graphite).withColumnRenamed("value", "line")
            with tr.span("sources.graphite"):
                pts = graphite.parse_graphite_lines(lines)
                if tr.enabled:
                    n = tr.force(pts)
                    tr.add("lines_in", b.graphite_lines)
                    tr.add("points_out", n)
                    tr.add("rejected", b.graphite_lines - n)
            raw = spark.read.text(b.statsd)
            parts = F.split(F.col("value"), " ", 2)
            pk = raw.select(
                F.element_at(parts, 1).try_cast("bigint").alias("t"),
                F.element_at(parts, 2).alias("packet"),
            ).where(F.col("t").isNotNull())
            with tr.span("sources.statsd"):
                samples = statsd.parse_statsd_packets(pk)
                if tr.enabled:
                    n = tr.force(samples)
                    tr.add("packets_in", b.statsd_lines)
                    tr.add("samples_out", n)
                    tr.add("rejected", b.statsd_lines - n)
            with tr.span("aggregator"):
                flushed = aggregator.statsd_flush(samples)
                if tr.enabled:
                    tr.add("series_out", tr.force(flushed))
            with tr.span("archive"), tr.wrapping(
                archive, "consolidate", "operators.consolidate",
                lambda out: {"slots_out": tr.force(out)},
            ):
                archive.materialize_archives(
                    spark, pts.unionAll(flushed), SPECS, root
                )
                if tr.enabled:
                    nbytes, nfiles = harness.dir_bytes(root)
                    tr.add("bytes_written", nbytes)
                    tr.add("files_written", nfiles)
        dt = time.perf_counter() - t0
        self.cache.append(harness.cache_state(spark))
        points = b.graphite_ok + b.statsd_ok
        return points, dt

    # -- phases -----------------------------------------------------------

    def setup(self) -> list[float]:
        """Each repetition writes a batch's input files and runs it once
        through the whole write path (lazy init and JIT warm-up)."""
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.run_batch(self.new_batch())
            reps.append(time.perf_counter() - t0)
        return reps

    def timed(self, seconds: float, min_ops: int = 3) -> list[tuple]:
        out = []
        tries = 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or tries < min_ops:
            tries += 1
            b = self.new_batch()
            try:
                pts, dt = self.run_batch(b)
            except Exception as ex:  # noqa: BLE001 - a failed batch is counted, not fatal
                traceback.print_exc()
                self.errors.append(f"{b.name}: {ex!r}"[:300])
                continue
            out.append((b, pts, dt))
        self.results.extend(out)
        return out

    def run_ops(self, n: int) -> float:
        """Run ``n`` fresh batches; returns their wall time."""
        t0 = time.perf_counter()
        self.timed(0, min_ops=n)
        return time.perf_counter() - t0

    def check(self) -> tuple[int, list[str]]:
        """(checked operations, failures) over every batch run since the
        set-up, in DuckDB."""
        fails = []
        for b, _pts, _dt in self.results:
            root = self.root(b)
            probs = oracle.check_ingest_batch(b, root, SPECS)
            fails += [f"{b.name} {p}" for p in probs]
        return len(self.results), fails

    def metrics(self, ops, setup_reps) -> dict:
        lat = [dt for _b, _p, dt in ops]
        rates = [p / dt for _b, p, dt in ops]
        nbytes = 0
        for b, _p, _dt in ops:
            root = self.root(b)
            nbytes += harness.dir_bytes(root)[0]
        points = sum(p for _b, p, _dt in ops)
        return {
            "setup_s": (statistics.median(setup_reps), "s"),
            "op_p50_ms": (statistics.median(lat) * 1000.0, "ms"),
            "points_per_s": (statistics.median(rates), "points/s"),
            "archive_bytes_per_point": (nbytes / points, "bytes"),
        }

    def extras(self, ops) -> dict:
        """Input sizes of the timed batches, for the info line."""
        return {
            "batches": len(ops),
            "graphite_lines": sum(b.graphite_lines for b, _p, _d in ops),
            "statsd_packets": sum(b.statsd_lines for b, _p, _d in ops),
            "points": sum(p for _b, p, _d in ops),
            "series": len(self.names),
            "input_bytes": sum(b.bytes for b, _p, _d in ops),
        }
