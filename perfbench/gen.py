"""Seeded input generator for the benchmark.

Everything the program under test sees is produced here from one
``numpy.random.Generator``: graphite line files, statsd packet files
and the dashboard's raw history. The same seed gives byte-identical
files. About 1% of generated lines are malformed, so the parsers'
reject paths run on every batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# servers.dc<d>.host<h>.<group>.<metric>
METRICS = (
    "cpu.user", "cpu.sys", "cpu.idle", "cpu.iowait",
    "mem.used", "mem.free", "mem.cached",
    "disk.read", "disk.write", "disk.util",
)
DASH_METRICS = ("cpu.user", "cpu.sys", "mem.used", "disk.read", "disk.write")
MALFORMED_SHARE = 0.01
T_BASE = 1_700_006_400  # a whole day in epoch seconds (multiple of 86400)


def series_names(n_dc: int, n_host: int, metrics=METRICS) -> list[str]:
    return [
        f"servers.dc{d}.host{h}.{m}"
        for d in range(n_dc)
        for h in range(n_host)
        for m in metrics
    ]


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # three decimals: exact in both engines' micro-unit sums
    return np.round(rng.gamma(2.0, 25.0, n), 3)


def _malform(rng: np.random.Generator, lines: list[str], bad: list[str]) -> int:
    """Overwrite a seeded ~1% of ``lines`` with entries of ``bad``."""
    n_bad = int(len(lines) * MALFORMED_SHARE)
    idx = rng.choice(len(lines), n_bad, replace=False)
    for i in idx:
        lines[i] = bad[int(rng.integers(len(bad)))]
    return n_bad


@dataclass
class Batch:
    name: str
    graphite: str  # path of the graphite line file
    statsd: str  # path of the statsd line file ("<t> <packet>")
    graphite_lines: int
    statsd_lines: int
    graphite_ok: int  # lines left well-formed
    statsd_ok: int
    bytes: int
    t0: int
    t1: int


def graphite_slice(
    rng: np.random.Generator,
    names: list[str],
    t0: int,
    span_s: int,
    every_s: int,
) -> list[str]:
    """One line per series every ``every_s`` seconds in (t0, t0+span],
    with a per-series phase so no two series share timestamps. Every
    (name, t) is unique."""
    k = span_s // every_s
    phase = rng.integers(0, every_s, len(names))
    vals = _values(rng, len(names) * k)
    out = []
    i = 0
    for s, name in enumerate(names):
        base = t0 + 1 + int(phase[s])
        for j in range(k):
            out.append(f"{name} {vals[i]:.3f} {base + j * every_s}")
            i += 1
    return out


def statsd_slice(
    rng: np.random.Generator, n_names: int, t0: int, span_s: int, n: int
) -> list[str]:
    """``n`` statsd packets stamped in (t0, t0+span]: counters (a tenth
    sampled at @0.1), gauges (a third as +/- deltas) and ms timers."""
    ts = t0 + 1 + rng.integers(0, span_s, n)
    kind = rng.integers(0, 3, n)
    svc = rng.integers(0, n_names, n)
    ints = rng.integers(1, 50, n)
    sampled = rng.random(n) < 0.1
    delta = rng.random(n) < 0.33
    sign = rng.random(n) < 0.5
    ms = np.round(rng.gamma(2.0, 40.0, n), 3)
    out = []
    for i in range(n):
        s = f"app.svc{svc[i]}"
        if kind[i] == 0:
            pk = f"{s}.requests:{ints[i]}|c" + ("|@0.1" if sampled[i] else "")
        elif kind[i] == 1:
            if delta[i]:
                pk = f"{s}.queue:{'+' if sign[i] else '-'}{ints[i]}|g"
            else:
                pk = f"{s}.queue:{ints[i] * 2}|g"
        else:
            pk = f"{s}.latency:{ms[i]:.3f}|ms"
        out.append(f"{ts[i]} {pk}")
    return out


def graphite_lines(
    rng: np.random.Generator, names: list[str], t0: int, span_s: int, every_s: int
) -> tuple[list[str], int]:
    """``graphite_slice`` with ~1% of its lines malformed; returns the
    lines and how many of them are well-formed."""
    lines = graphite_slice(rng, names, t0, span_s, every_s)
    return lines, len(lines) - _malform(rng, lines, list(_BAD_GRAPHITE))


_BAD_GRAPHITE = (
    "servers.dc0.host0.cpu.user notanumber 1700000000",
    "servers.dc0.host0.cpu.user 1.5",
    "servers.dc0.host0.cpu.user 1.5 1700000000 extra",
    "garbage",
    "servers.dc0.host0.cpu.user 2.0 later",
)
_BAD_STATSD = (
    "app.svc0.requests:abc|c",
    "app.svc0.requests:5|x",
    "app.svc0.requests:5|c|@1.5",
    "app.svc0.requests",
    "no_value:|ms",
)


def write_batch(
    rng: np.random.Generator,
    root: str,
    idx: int,
    names: list[str],
    n_statsd_names: int,
    span_s: int,
    every_s: int,
    n_statsd: int,
) -> Batch:
    """Write batch ``idx`` (time window idx*span .. (idx+1)*span after
    T_BASE) as two line files under ``root/batch<idx>/``."""
    t0 = T_BASE + idx * span_s
    g, g_ok = graphite_lines(rng, names, t0, span_s, every_s)
    st = statsd_slice(rng, n_statsd_names, t0, span_s, n_statsd)
    stamps = [ln.split(" ", 1)[0] for ln in st]
    bad = [f"{stamps[0]} {b}" for b in _BAD_STATSD]
    s_bad = _malform(rng, st, bad)
    name = f"batch{idx}"
    d = os.path.join(root, name)
    os.makedirs(os.path.join(d, "graphite"))
    os.makedirs(os.path.join(d, "statsd"))
    gp = os.path.join(d, "graphite", "lines.txt")
    sp = os.path.join(d, "statsd", "packets.txt")
    nbytes = 0
    for path, lines in ((gp, g), (sp, st)):
        data = "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(data)
        nbytes += len(data)
    return Batch(name, gp, sp, len(g), len(st), g_ok,
                 len(st) - s_bad, nbytes, t0, t0 + span_s)


def history_points(
    rng: np.random.Generator, names: list[str], t_end: int, fine_s: int,
    fine_span: int, coarse_s: int, coarse_span: int,
):
    """Dashboard history as columns (name, t, value): ``coarse_s``
    spacing for the older ``coarse_span`` seconds, then ``fine_s``
    spacing for the last ``fine_span`` seconds up to ``t_end``."""
    fine = np.arange(t_end - fine_span + fine_s, t_end + 1, fine_s)
    coarse = np.arange(t_end - fine_span - coarse_span + coarse_s,
                       t_end - fine_span + 1, coarse_s)
    ts = np.concatenate([coarse, fine]).astype(np.int64)
    n = len(names)
    name_col = np.repeat(np.array(names, dtype=object), len(ts))
    t_col = np.tile(ts, n)
    # per-series level plus noise: series differ, so rank and
    # percentile targets have distinct answers
    level = rng.gamma(2.0, 25.0, n)
    val = np.round(np.repeat(level, len(ts)) + rng.normal(0, 5.0, n * len(ts)), 3)
    return name_col, t_col, val
