"""Statsd-style flush aggregation over fixed windows.

Reference: aggregator/aggregator.go Flush (aggregator.go:155-211) and
statsd.go AggregatorCmd routing:

- counter (CmdAdd): sum(value / sample) per flush window, emitted as a
  per-second rate over the window.
- gauge set (CmdSetGauge): last value in the window; gauge delta
  (CmdAddGauge): running sum of deltas applied to the last set value.
- timer (CmdAppend): per window over the sorted sample list —
  count, lower, upper, sum, mean, and for each threshold p:
  idx = floor(p/100*n + .5) - 1, upper_p = sorted[idx],
  sum_p = sum(sorted[..idx]), mean_p = sum_p/(idx+1).

Deviation (documented): aggregator.go:185-187 fills ``cumul`` with
``cumul[n] += v`` on a fresh slice, so its ".sum" is really the max
sample — a bug. We implement the statsd-standard cumulative sum.

Spark shape: one groupBy (name, window) over the parsed relation with
metric-filtered aggregates — one shuffle, no cache, no join:

- counters: sum(micro6(value / sample));
- gauge sets: max(struct(t, value)) — the latest set, ties at the same
  second broken to the larger value (the streaming gauge rule in
  streaming/ingest.py);
- gauge deltas: sum(micro6(value));
- timers: array_sort(collect_list(value)), then left-folded partial
  sums so both engines sum in the same order.

One generator emits every row family from that one aggregate, each
where its own count is non-empty; the ``flush_*_sql`` functions are
the DuckDB oracle twins, one per family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .model import literal_df

from .model import NAME, T, VALUE, micro6
from .operators.consolidate import slot_end

THRESHOLDS = (90,)  # reference default Thresholds: []int{90}


def statsd_flush(
    parsed: DataFrame,
    flush_s: int = 60,
    prefix: str = "stats",
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> DataFrame:
    """(t, name, value, metric, sample, delta) → flushed SeriesFrame.

    One output series per counter/gauge; 5 + 3·len(thresholds) per
    timer (count/lower/upper/sum/mean + upper_p/sum_p/mean_p per
    configured percentile, mirroring aggregator.State.Thresholds).

    One groupBy (name, slot) computes every family's buffer with
    metric-filtered aggregates, and one generator emits each family's
    rows from it where the family's own count is non-empty. (A union of
    per-family projections would not share the aggregate: column
    pruning gives each branch its own, so the parse would run thrice.)
    """
    metric = F.col("metric")
    is_set = (metric == "g") & ~F.col("delta")
    is_delta = (metric == "g") & F.col("delta")
    grouped = parsed.groupBy(
        F.col(NAME), slot_end(flush_s).alias("slot")
    ).agg(
        F.count(F.when(metric == "c", 1)).alias("n_c"),
        F.sum(
            F.when(metric == "c", micro6(F.col(VALUE) / F.col("sample")))
        ).alias("c_sum"),
        F.count(F.when(metric == "g", 1)).alias("n_g"),
        # last set value: latest t, ties at the same second break to the
        # larger value (struct order) — the streaming gauge rule
        F.max(F.when(is_set, F.struct(F.col(T), F.col(VALUE)))).alias("last_set"),
        F.sum(F.when(is_delta, micro6(F.col(VALUE)))).alias("d_sum"),
        # ONE aggregate buffer (the sorted sample list); every timer stat
        # is a cheap post-projection on it
        F.array_sort(
            F.collect_list(F.when(metric == "ms", F.col(VALUE)))
        ).alias("arr"),
    )
    counter = F.col("c_sum").cast("double") / 1000000.0 / float(flush_s)
    gauge = F.coalesce(F.col("last_set")[VALUE], F.lit(0.0)) + F.coalesce(
        F.col("d_sum").cast("double") / 1000000.0, F.lit(0.0)
    )
    families = [
        (F.col("n_c") > 0, [(f"{prefix}.", "", counter)]),
        (F.col("n_g") > 0, [(f"{prefix}.gauges.", "", gauge)]),
        (F.size("arr") > 0, _timer_rows(prefix, thresholds)),
    ]
    return _emit_rows(_fold_timers(grouped, thresholds), families)


def flush_counters_sql(parsed_sql: str, flush_s: int, prefix: str = "stats") -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    return (
        f"SELECT '{prefix}.' || name AS name, {slot} AS t, "
        f"CAST(SUM(CAST(FLOOR((value / sample) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / {float(flush_s)!r} AS value "
        f"FROM ({parsed_sql}) WHERE metric = 'c' GROUP BY name, {slot}"
    )


def flush_gauges_sql(parsed_sql: str, flush_s: int, prefix: str = "stats") -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    sets = (
        f"SELECT name, slot, MAX(v) AS base FROM ("
        f"SELECT name, t, {slot} AS slot, value AS v, "
        f"MAX(t) OVER (PARTITION BY name, {slot}) AS tmax "
        f"FROM ({parsed_sql}) WHERE metric = 'g' AND NOT delta"
        f") WHERE t = tmax GROUP BY name, slot"
    )
    deltas = (
        f"SELECT name, {slot} AS slot, "
        f"CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS d "
        f"FROM ({parsed_sql}) WHERE metric = 'g' AND delta GROUP BY name, {slot}"
    )
    return (
        f"SELECT '{prefix}.gauges.' || COALESCE(s.name, d.name) AS name, "
        f"COALESCE(s.slot, d.slot) AS t, "
        f"COALESCE(s.base, 0.0) + COALESCE(d.d, 0.0) AS value "
        f"FROM ({sets}) s FULL JOIN ({deltas}) d ON s.name = d.name AND s.slot = d.slot"
    )


def timer_stats_from_sorted(
    grouped: DataFrame,
    prefix: str,
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> DataFrame:
    """Stat projection over a (name, slot, arr) relation where ``arr``
    is the SORTED timer sample list — shared by the batch flush and
    the streaming window aggregation (identical math by construction).
    """
    return _emit_rows(
        _fold_timers(grouped, thresholds),
        [(F.lit(True), _timer_rows(prefix, thresholds))],
    )


def _lfold(a):
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)


def _threshold_len(th: int):
    """Number of sorted samples at or below percentile ``th``."""
    n = F.size(F.col("arr"))
    return F.floor(F.lit(th / 100.0) * n.cast("double") + 0.5).cast("int")


def _fold_timers(grouped: DataFrame, thresholds: tuple[int, ...]) -> DataFrame:
    """Add the left-folded sums of the sorted ``arr`` column: ``total``
    and one ``s_<th>`` prefix sum per threshold.

    Each distinct prefix is folded ONCE: `total` feeds both sum and
    mean, `s_{th}` feeds sum_th and mean_th — expressed as a
    pre-projection because expressions get no CSE across select-list
    entries. Same folds, same division order as the oracle."""
    arr = F.col("arr")
    return grouped.select(
        "*",
        _lfold(arr).alias("total"),
        *[
            F.when(
                _threshold_len(th) - 1 >= 0,
                _lfold(F.slice(arr, 1, _threshold_len(th))),
            ).alias(f"s_{th}")
            for th in thresholds
        ],
    )


def _timer_rows(prefix: str, thresholds: tuple[int, ...]) -> list[tuple]:
    """(name prefix, name suffix, value) per timer stat over a
    _fold_timers relation."""
    arr = F.col("arr")
    n = F.size(arr)
    stats = [
        ("count", n.cast("double")),
        ("lower", F.element_at(arr, 1)),
        ("upper", F.element_at(arr, n)),
        ("sum", F.col("total")),
        ("mean", F.col("total") / n.cast("double")),
    ]
    for th in thresholds:
        idx = _threshold_len(th) - 1
        stats += [
            (f"upper_{th}", F.when(idx >= 0, F.element_at(arr, idx + 1))),
            (f"sum_{th}", F.col(f"s_{th}")),
            (f"mean_{th}", F.col(f"s_{th}") / (idx + 1).cast("double")),
        ]
    return [(f"{prefix}.timers.", f".{suffix}", v) for suffix, v in stats]


def _emit_rows(grouped: DataFrame, families: list[tuple]) -> DataFrame:
    """(name, slot, ...) → SeriesFrame through one generator. Each
    family is (keep, rows), rows = [(name prefix, name suffix, value)];
    an input row emits a family's rows only where its ``keep`` holds,
    and only those rows' values are evaluated (ANSI element_at and
    division would throw on a window without timer samples)."""
    empty = F.array().cast("array<struct<pre:string,suf:string,v:double>>")
    arrays = [
        F.when(
            keep,
            F.array(*[
                F.struct(
                    F.lit(pre).alias("pre"),
                    F.lit(suf).alias("suf"),
                    v.cast("double").alias("v"),
                )
                for pre, suf, v in rows
            ]),
        ).otherwise(empty)
        for keep, rows in families
    ]
    return grouped.select(NAME, "slot", F.inline(F.concat(*arrays))).select(
        F.concat(F.col("pre"), F.col(NAME), F.col("suf")).alias(NAME),
        F.col("slot").alias(T),
        F.col("v").alias(VALUE),
    )


def flush_timers_sql(
    parsed_sql: str,
    flush_s: int,
    prefix: str = "stats",
    thresholds: tuple[int, ...] = THRESHOLDS,
) -> str:
    slot = f"CAST(FLOOR((t - 1) / {flush_s}) * {flush_s} + {flush_s} AS BIGINT)"
    arr = "list_sort(list(value))"
    n = f"len({arr})"
    fold = "list_reduce(list_prepend(0.0, {a}), (acc, x) -> acc + x)"
    foldall = fold.format(a=arr)
    stat_sql = [
        f"CAST({n} AS DOUBLE) AS \"count\"",
        f"{arr}[1] AS lower",
        f"{arr}[{n}] AS upper",
        f"{foldall} AS \"sum\"",
        f"{foldall} / {n} AS mean",
    ]
    suffixes = ["count", "lower", "upper", "sum", "mean"]
    for th in thresholds:
        idx = f"CAST(FLOOR({th / 100.0!r} * {n} + 0.5) AS BIGINT) - 1"
        foldhead = fold.format(a=f"list_slice({arr}, 1, ({idx}) + 1)")
        stat_sql += [
            f"CASE WHEN ({idx}) >= 0 THEN {arr}[({idx}) + 1] END AS upper_{th}",
            f"CASE WHEN ({idx}) >= 0 THEN {foldhead} END AS sum_{th}",
            f"CASE WHEN ({idx}) >= 0 THEN {foldhead} / (({idx}) + 1) END AS mean_{th}",
        ]
        suffixes += [f"upper_{th}", f"sum_{th}", f"mean_{th}"]
    wide = (
        f"SELECT name, {slot} AS slot, " + ", ".join(stat_sql)
        + f" FROM ({parsed_sql}) WHERE metric = 'ms' GROUP BY name, {slot}"
    )
    pieces = []
    for s in suffixes:
        pieces.append(
            f"SELECT '{prefix}.timers.' || name || '.{s}' AS name, slot AS t, "
            f"CAST(\"{s}\" AS DOUBLE) AS value FROM w"
        )
    return f"WITH w AS ({wide}) " + " UNION ALL ".join(pieces)


def paced_metrics(sf: DataFrame, pace_s: int, kind: str = "sum") -> DataFrame:
    """receiver/pacedmetric.go: rate-limit a firehose to ≤1 datapoint
    per pace interval per name — 'sum' accumulates, 'gauge' is a
    time-weighted mean (ClockPdp)."""
    from .operators.consolidate import consolidate

    if kind == "sum":
        return consolidate(sf, pace_s, cf="sum")
    if kind == "gauge":
        return consolidate(sf, pace_s, cf="wmean")
    raise ValueError(kind)


def paced_metrics_sql(base_sql: str, pace_s: int, kind: str = "sum") -> str:
    from .operators.consolidate import oracle_consolidate_sql

    return oracle_consolidate_sql(
        base_sql, pace_s, "sum" if kind == "sum" else "wmean"
    )


def pixel_agg_frame(spark, commands) -> DataFrame:
    """http/pixel.go:87-145 parity: the `/pixel/{add,addgauge,setgauge,
    append}` routes queue aggregator commands (aggregator.go:217-220 —
    CmdAdd counter, CmdAddGauge gauge delta, CmdSetGauge gauge set,
    CmdAppend timer list). This turns the façade's queued
    ``(cmd, name, value, t)`` tuples into the SAME parsed-statsd frame
    ``parse_statsd_packets`` emits, so one flush path (``statsd_flush``)
    serves sockets and pixels alike — no second aggregation engine.
    Name sanitization happens here (misc.SanitizeName parity), like
    ``render.pixel_datapoints`` does for the count pixels."""
    from .model import sanitize_name

    cmds = literal_df(spark,
        list(commands), "cmd string, name string, value double, t long"
    )
    return pixel_agg_parsed(cmds)


def pixel_agg_parsed(cmds: DataFrame) -> DataFrame:
    """(cmd, name, value, t) relation → the parsed-statsd frame shape
    (t, name, value, metric, sample, delta); the distributed half of
    pixel_agg_frame, reusable over any command relation (the
    statsd_pixel_flush attestation query synthesizes one from
    events)."""
    from .model import sanitize_name

    metric = (
        F.when(F.col("cmd") == "add", F.lit("c"))
        .when(F.col("cmd") == "append", F.lit("ms"))
        .otherwise(F.lit("g"))
    )
    return cmds.select(
        F.col("t"),
        sanitize_name(F.col("name")).alias("name"),
        F.col("value"),
        metric.alias("metric"),
        F.lit(1.0).alias("sample"),
        (F.col("cmd") == "addgauge").alias("delta"),
    )
