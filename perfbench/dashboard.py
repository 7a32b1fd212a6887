"""``dashboard`` workload: render requests over built archives, with
live appends mixed in.

Set-up writes seven days of raw history for 500 series (300 s spacing
for the newest day, 1800 s before it) and builds three RRAs from it
with ``archive.materialize_archives``. One closed-loop client then
sends a seeded request mix:

- renders of sum/average/max/percentileOfSeries, highestMax,
  movingAverage and aliasByNode targets over globs of 1 to 500 series.
  Windows of 1 h to 1 d go through ``render.render_json`` over the
  60 s archive plus the live archive; 2 d to 7 d windows go through
  ``archive.ArchiveDslContext`` and ``dsl.evaluator.evaluate``, the
  BestRRA path. maxDataPoints is none, 300 or 1000.
- ``render.find_json`` lookups.
- every ``APPEND_EVERY``-th operation, starting with the first, appends
  a new 10-minute slice of lines through ``streaming.ingest.run_file_pipeline`` (availableNow,
  one checkpoint for the whole run) into the live archive.

Half the renders reload one of four fixed dashboard panels, so
requests repeat (a read cache could gain, and must be invalidated when
an append lands); the rest draw a (glob, window) class with fixed
weights and a function within it from a Zipf law. That sequence is the
same for every seed, so the cost mix does not move the medians; the
seed varies the data, the request ends and the find queries.
"""

from __future__ import annotations

import glob as globmod
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tgres_spark import archive, render
from tgres_spark.dsl import evaluator, parser
from tgres_spark.streaming import ingest as stream_ingest

from . import gen, harness, oracle

SPECS = [("wmean", 60), ("max", 600), ("min", 3600)]
# retention of each serving archive; routes 1 h..1 d to the 60 s
# archive, 2 d..3 d to the 600 s one and 7 d to the 3600 s one
SPANS = {60: 86400, 600: 3 * 86400, 3600: 30 * 86400}
N_DC, N_HOST = 4, 25  # x 5 metrics = 500 series
T_END = gen.T_BASE + 14 * 86400
LIVE_GLOB_DC = 0  # live appends carry the 125 series of dc0
SLICE_S, LIVE_EVERY_S = 600, 60
STREAM_STEP, WATERMARK_S = 60, 120
APPEND_EVERY = 15
MIN_APPENDS = 2  # the timed window runs on until this many appends
FIND_SHARE = 0.1
SETUP_REPS = 3

GLOBS = {  # glob -> series matched
    "servers.dc0.host3.cpu.user": 1,
    "servers.dc1.host7.*.*": 5,
    "servers.dc2.host*.mem.used": 25,
    "servers.*.host*.cpu.user": 100,
    "servers.dc3.*.*.*": 125,
    "servers.*.*.*.*": 500,
}
GLOB_W = (0.3, 0.2, 0.2, 0.1, 0.1, 0.1)
WINDOWS = {"1h": 3600, "6h": 21600, "1d": 86400, "2d": 172800, "3d": 259200, "7d": 604800}
WINDOW_W = (0.3, 0.2, 0.2, 0.1, 0.1, 0.1)
MAX_POINTS = (None, 300, 1000)
FINDS = ("servers.*", "servers.dc1.*", "servers.dc*.host1*", "servers.dc2.host3.*",
         "servers.dc0.host*.cpu.*")
# (function, extra args); per-series outputs only on globs of <= 25 series
FUNCS_ANY = (("sumSeries", ()), ("averageSeries", ()), ("maxSeries", ()),
             ("percentileOfSeries", (90,)), ("highestMax", (3,)))
FUNCS_SMALL = (("movingAverage", (5,)), ("aliasByNode", (1, 2)))
ZIPF_S = 1.1
HOT_PANELS, HOT_SHARE = 4, 0.5  # panels every viewer reloads
FIXED_MIX_SEED = 20181010


@dataclass
class Req:
    kind: str  # render | find | append
    key: str = ""
    func: str = ""
    glob: str = ""
    args: tuple = ()
    window: int = 0
    until_back: int = 0  # request ends this many seconds before now
    max_points: int | None = None
    path: str = ""  # render (facade) | archive (BestRRA)
    # filled in when served
    t_from: int = 0
    t_to: int = 0
    route: int = 0  # step of the archive that served it

    @property
    def target(self) -> str:
        extra = "".join(f", {a}" for a in self.args)
        return f"{self.func}({self.glob}{extra})"


def _zipf_pick(rng, items: list):
    w = 1.0 / np.arange(1, len(items) + 1) ** ZIPF_S
    return items[int(rng.choice(len(items), p=w / w.sum()))]


def request_mix(seed: int, n: int) -> list[Req]:
    """The client's operation sequence. Half the renders reload one of
    HOT_PANELS fixed dashboard panels (Zipf-ranked); the rest draw a
    (glob, window) class by weight and a function within it by Zipf
    rank. Classes, functions and maxDataPoints come from a fixed stream,
    so every seed sends the same cost mix; the seed picks the request
    ends and the find queries."""
    fixed = np.random.default_rng(FIXED_MIX_SEED)
    rng = np.random.default_rng(seed + 1)
    classes: dict[tuple, list[tuple]] = {}
    for g, n_series in GLOBS.items():
        funcs = FUNCS_ANY + (FUNCS_SMALL if n_series <= 25 else ())
        for wname in WINDOWS:
            classes[(g, wname)] = [funcs[i] for i in fixed.permutation(len(funcs))]

    def draw(back: int) -> Req:
        g = list(GLOBS)[int(fixed.choice(len(GLOBS), p=GLOB_W))]
        wname = list(WINDOWS)[int(fixed.choice(len(WINDOWS), p=WINDOW_W))]
        f, a = _zipf_pick(fixed, classes[(g, wname)])
        mp = MAX_POINTS[int(fixed.integers(len(MAX_POINTS)))]
        wsec = WINDOWS[wname]
        return Req("render", f"{f}|{g}|{a}|{wname}|{mp}|{back}", f, g, a,
                   wsec, back, mp, "render" if wsec <= 86400 else "archive")

    panels = [draw(0) for _ in range(HOT_PANELS)]
    finds = [FINDS[i] for i in rng.permutation(len(FINDS))]
    ops = []
    for i in range(n):
        if i % APPEND_EVERY == 0:
            ops.append(Req("append", "append"))
        elif fixed.random() < FIND_SHARE:
            q = _zipf_pick(rng, finds)
            ops.append(Req("find", f"find|{q}", glob=q))
        elif fixed.random() < HOT_SHARE:
            ops.append(_zipf_pick(fixed, panels))
        else:
            # 85% of requests end at the newest data, the rest 6 h back
            ops.append(draw(21600 if rng.random() < 0.15 else 0))
    return ops


class Dashboard:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.rng = np.random.default_rng(seed)
        self.names = gen.series_names(N_DC, N_HOST, gen.DASH_METRICS)
        self.live_names = [n for n in self.names if n.startswith(f"servers.dc{LIVE_GLOB_DC}.")]
        self.ops = request_mix(seed, 20_000)
        self.op_i = 0
        self.live_in = os.path.join(work, "live", "in")
        self.live_out = os.path.join(work, "live", "out")
        self.ckpt = os.path.join(work, "live", "ckpt")
        self.slices = 0
        self.live_lines: list[str] = []
        self.epochs: list[dict] = []  # per append: files, watermark, lines so far
        self.served: list[tuple] = []  # (req, epoch, rows)
        self.seen: set[str] = set()
        self.repeats = 0
        self.routes: dict[int, int] = {}
        self.cache = []
        self.errors: list[str] = []
        self.root = None

    # -- set-up -----------------------------------------------------------

    def build(self, rep: int) -> None:
        """Write the raw history and build the three archives."""
        root = os.path.join(self.work, f"setup{rep}")
        raw_dir = os.path.join(root, "raw")
        os.makedirs(raw_dir)
        rng = np.random.default_rng(self.seed)  # same history every rep
        name, t, v = gen.history_points(rng, self.names, T_END, 300, 86400, 1800, 6 * 86400)
        tbl = pa.table({"name": pa.array(name, pa.string()), "t": t, "value": v})
        for i, part in enumerate(np.array_split(np.arange(tbl.num_rows), 4)):
            pq.write_table(tbl.take(pa.array(part)), os.path.join(raw_dir, f"part-{i}.parquet"))
        self.raw_rows = tbl.num_rows
        self.raw_bytes = sum(os.path.getsize(f) for f in globmod.glob(f"{raw_dir}/*.parquet"))
        archive.materialize_archives(self.spark, self.spark.read.parquet(raw_dir), SPECS,
                                     os.path.join(root, "arch"))
        self.root = root

    def setup(self) -> list[float]:
        """Build SETUP_REPS times (the last build serves), then append
        once: the first streaming query of a session pays its start-up
        cost, which is set-up, not append latency."""
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.build(rep)
            reps.append(time.perf_counter() - t0)
        self.now = T_END
        self.refresh()
        self.append()
        return reps

    def arch_path(self, cf: str, step: int) -> str:
        return os.path.join(self.root, "arch", f"{cf}_{step}")

    def refresh(self) -> None:
        """(Re)open the serving catalog after the live archive changed."""
        spark = self.spark
        w60 = spark.read.parquet(self.arch_path("wmean", 60))
        if os.path.isdir(os.path.join(self.live_out, "_spark_metadata")):
            live = spark.read.parquet(self.live_out).select("name", "t", "value")
            self.catalog = w60.unionAll(live)
        else:
            self.catalog = w60
        aset = archive.ArchiveSet(self.catalog, base_step=60,
                                  base_span=SPANS[60], base_latest=self.now)
        for cf, step in SPECS[1:]:
            aset.add(cf, step, spark.read.parquet(self.arch_path(cf, step)),
                     span=SPANS[step], latest=T_END)
        self.aset = aset

    # -- operations -------------------------------------------------------

    def append(self) -> float:
        """Land one slice file and run the stream over it; returns the
        seconds from the file landing until the pipeline returns."""
        t0 = T_END + self.slices * SLICE_S
        lines, self.slice_points = gen.graphite_lines(
            self.rng, self.live_names, t0, SLICE_S, LIVE_EVERY_S)
        os.makedirs(self.live_in, exist_ok=True)
        tmp = os.path.join(self.work, "live", f".slice{self.slices}.txt")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.live_in, f"slice{self.slices}.txt"))
        start = time.perf_counter()
        with self.tr.span("streaming.ingest", req=f"slice{self.slices}"):
            stream_ingest.run_file_pipeline(
                self.spark, self.live_in, self.live_out, self.ckpt,
                step_s=STREAM_STEP, watermark_s=WATERMARK_S,
            )
        dt = time.perf_counter() - start
        self.slices += 1
        self.now = t0 + SLICE_S
        self.live_lines += lines
        self.epochs.append({
            "files": sorted(globmod.glob(os.path.join(self.live_out, "*.parquet"))),
            "watermark_ms": self._watermark_ms(),
            "n_lines": len(self.live_lines),
        })
        self.refresh()
        return dt

    def _watermark_ms(self) -> int:
        """Watermark of the last committed micro-batch (offsets log)."""
        commits = [int(x) for x in os.listdir(os.path.join(self.ckpt, "commits"))
                   if x.isdigit()]
        with open(os.path.join(self.ckpt, "offsets", str(max(commits)))) as f:
            f.readline()
            return int(json.loads(f.readline())["batchWatermarkMs"])

    def render(self, req: Req) -> list[tuple]:
        tr = self.tr
        req.t_to = self.now - req.until_back
        req.t_from = req.t_to - req.window
        with tr.span("request", req=req.key):
            if tr.enabled:
                with tr.span("dsl.parser"):
                    parser.parse(req.target)
            if req.path == "render":
                if tr.enabled:
                    with tr.span("dsl.evaluator"), tr.wrapping(
                        evaluator, "consolidate", "operators.consolidate",
                        lambda out: {"slots_out": tr.force(out)},
                    ):
                        df = render.render_df(self.catalog, [req.target], req.t_from,
                                              req.t_to, req.max_points, now=self.now)
                    with tr.span("render.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("render.exec"):
                        tr.force(df)
                with tr.span("render.json"):
                    out = render.render_json(self.catalog, [req.target], req.t_from,
                                             req.t_to, req.max_points, now=self.now)
                rows = [(s["target"], p[1], p[0]) for s in json.loads(out)
                        for p in s["datapoints"]]
                req.route = 60
            else:
                with tr.span("dsl.evaluator"):
                    ctx = archive.ArchiveDslContext(self.aset, req.t_from, req.t_to,
                                                    req.max_points, now=self.now)
                    df = evaluator.evaluate(ctx, req.target)
                with tr.span("archive.read"):
                    if tr.enabled:
                        tr.force(df)
                    rows = [tuple(r) for r in df.select("name", "t", "value").collect()]
                req.route = ctx.last_selected.step
            tr.add(f"route.{req.route}", 1)
        self.routes[req.route] = self.routes.get(req.route, 0) + 1
        return rows

    def find(self, req: Req) -> list[tuple]:
        with self.tr.span("dsl.find", req=req.key):
            out = render.find_json(self.catalog, req.glob)
            # every catalog name (the live series are a subset) is matched
            self.tr.add("names_scanned", len(self.names))
        return [(d["id"], d["leaf"]) for d in json.loads(out)]

    def step(self, record: bool) -> tuple[str, float]:
        """Serve the next operation; returns (kind, seconds)."""
        req = Req(**self.ops[self.op_i % len(self.ops)].__dict__)
        self.op_i += 1
        if req.kind != "append" and record:
            self.repeats += req.key in self.seen
            self.seen.add(req.key)
        t0 = time.perf_counter()
        try:
            if req.kind == "append":
                kind, dt = "append", self.append()
            else:
                rows = self.find(req) if req.kind == "find" else self.render(req)
                kind, dt = req.kind, time.perf_counter() - t0
                if record:
                    self.served.append((req, len(self.epochs), rows))
        except Exception as ex:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{req.key}: {ex!r}"[:300])
            kind, dt = "error", time.perf_counter() - t0
        self.cache.append(harness.cache_state(self.spark))
        return kind, dt

    def timed(self, seconds: float, min_ops: int = 0) -> list[tuple[str, float]]:
        out = []
        deadline = time.perf_counter() + seconds
        while (time.perf_counter() < deadline or len(out) < min_ops
               or (seconds and sum(k == "append" for k, _ in out) < MIN_APPENDS)):
            out.append(self.step(record=True))
        return out

    def run_ops(self, n: int) -> float:
        t0 = time.perf_counter()
        self.timed(0, min_ops=n)
        return time.perf_counter() - t0

    # -- results ----------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        """Archives against raw, the live archive after every append,
        and every served request against its DuckDB twin."""
        orc = oracle.DashboardOracle()
        fails = []
        try:
            raw = sorted(globmod.glob(os.path.join(self.root, "raw", "*.parquet")))
            fails += orc.check_archives(raw, os.path.join(self.root, "arch"), SPECS)
            orc.load("w60", oracle.archive_files(self.arch_path("wmean", 60)))
            orc.load("max600", oracle.archive_files(self.arch_path("max", 600)))
            orc.load("min3600", oracle.archive_files(self.arch_path("min", 3600)))
            orc.con.execute("CREATE OR REPLACE VIEW cat0 AS SELECT * FROM w60")
            for k, ep in enumerate(self.epochs):
                orc.load(f"live{k + 1}", ep["files"])
                orc.con.execute(
                    f"CREATE OR REPLACE VIEW cat{k + 1} AS "
                    f"SELECT * FROM w60 UNION ALL SELECT * FROM live{k + 1}")
                err = orc.check_live(self.live_lines[:ep["n_lines"]], f"live{k + 1}",
                                     STREAM_STEP, ep["watermark_ms"])
                if err:
                    fails.append(f"live archive after append {k + 1}: {err}")
            done: dict[tuple, str] = {}
            for req, epoch, rows in self.served:
                ck = (req.key, epoch)
                h = oracle.frame_hash(["a", "b", "c"], rows) if req.kind == "render" \
                    else oracle.frame_hash(["a", "b"], rows)
                if ck in done:
                    if done[ck] != h:
                        fails.append(f"{req.key}: repeated request answered differently")
                    continue
                done[ck] = h
                if req.kind == "find":
                    err = orc.check_find(req.glob, rows, f"cat{epoch}")
                else:
                    base = {60: f"cat{epoch}", 600: "max600", 3600: "min3600"}[req.route]
                    err = orc.check_render(req, rows, base)
                if err:
                    fails.append(f"{req.key}@{epoch}: {err}")
        finally:
            orc.close()
        return len(self.served) + len(self.epochs), fails

    def metrics(self, ops, setup_reps) -> dict:
        renders = [dt for k, dt in ops if k == "render"]
        appends = [dt for k, dt in ops if k == "append"]
        rates = [self.slice_points / dt for dt in appends]
        return {
            "setup_s": (statistics.median(setup_reps), "s"),
            "op_p50_ms": (statistics.median(renders) * 1000.0, "ms"),
            "points_per_s": (statistics.median(rates), "points/s"),
            "archive_bytes_per_point": (self.archive_bytes() / self.raw_rows, "bytes"),
        }

    def archive_bytes(self) -> int:
        return sum(harness.dir_bytes(self.arch_path(cf, s))[0] for cf, s in SPECS)

    def extras(self, ops) -> dict:
        """Input sizes and the figures not gated by the benchmark."""
        renders = [dt for k, dt in ops if k == "render"]
        finds = [dt for k, dt in ops if k == "find"]
        appends = [dt for k, dt in ops if k == "append"]
        n_req = sum(1 for k, _ in ops if k != "append")
        return {
            "render_requests": len(renders),
            "render_p50_ms": statistics.median(renders) * 1000.0 if renders else None,
            "render_p90_ms": harness.pct(renders, 90) * 1000.0 if renders else None,
            "find_p50_ms": statistics.median(finds) * 1000.0 if finds else None,
            "append_p50_s": statistics.median(appends) if appends else None,
            "appends": len(appends),
            "dashboard.repeat_share": self.repeats / n_req if n_req else 0.0,
            "routes": {str(k): v for k, v in sorted(self.routes.items())},
            "series": len(self.names),
            "raw_points": self.raw_rows,
            "raw_bytes": self.raw_bytes,
            "live_lines": len(self.live_lines),
            "live_series": len(self.live_names),
        }
