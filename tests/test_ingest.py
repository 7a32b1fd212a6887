"""Protocol parsing + statsd flush semantics (statsd/statsd.go tests
and aggregator.go Flush behavior)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tgres_spark.aggregator import statsd_flush
from tgres_spark.sources.graphite import parse_graphite_lines
from tgres_spark.sources.statsd import parse_statsd_packets


def test_graphite_parse_good_and_bad(spark):
    lines = spark.createDataFrame(
        [("web.a.hits 1.50 100",), ("bad",), ("x y z",), ("m 2 200 extra",)],
        "line string",
    )
    rows = parse_graphite_lines(lines).collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "web.a.hits"
    assert rows[0]["t"] == 100 and rows[0]["value"] == 1.5


def test_statsd_parse_variants(spark):
    pk = spark.createDataFrame(
        [
            (1, "gorets:1|c"),
            (2, "glork:320|ms"),
            (3, "gaugor:333|g"),
            (4, "gaugor:+10|g"),
            (5, "gaugor:-4|g"),
            (6, "sampled:5|c|@0.1"),
            (7, "bad packet"),
            (8, "nope:x|c"),
        ],
        "t long, packet string",
    )
    rows = {r["t"]: r for r in parse_statsd_packets(pk).collect()}
    assert rows[1]["metric"] == "c" and rows[1]["value"] == 1.0
    assert rows[2]["metric"] == "ms"
    assert rows[3]["delta"] is False
    assert rows[4]["delta"] is True and rows[4]["value"] == 10.0
    assert rows[5]["delta"] is True and rows[5]["value"] == -4.0
    assert rows[6]["sample"] == 0.1
    assert 7 not in rows and 8 not in rows


def test_statsd_name_with_pipe(spark):
    """The grammar's name pattern is [^:]+ — a '|' inside the name is
    legal and must not shift the fields (split after the FIRST ':'
    only; the cross-engine divergence ADVICE r1 flagged). The '|'
    itself is then stripped by SanitizeName (statsd.go:84)."""
    pk = spark.createDataFrame(
        [(1, "a|b:1|c"), (2, "a|b:5|ms|@0.2")], "t long, packet string"
    )
    rows = {r["t"]: r for r in parse_statsd_packets(pk).collect()}
    assert rows[1]["name"] == "ab" and rows[1]["metric"] == "c"
    assert rows[1]["value"] == 1.0 and rows[1]["sample"] == 1.0
    assert rows[2]["name"] == "ab" and rows[2]["metric"] == "ms"
    assert rows[2]["sample"] == 0.2


def test_statsd_flush_counter_rate_and_sampling(spark):
    # two counters in one 60s window; @0.5 doubles the increment;
    # rate = (1/1 + 5/0.5) / 60
    pk = spark.createDataFrame(
        [(10, "c1:1|c"), (20, "c1:5|c|@0.5")], "t long, packet string"
    )
    out = statsd_flush(parse_statsd_packets(pk), 60)
    r = {x["name"]: x for x in out.collect()}
    assert math.isclose(r["stats.c1"]["value"], 11.0 / 60.0)
    assert r["stats.c1"]["t"] == 60


def test_statsd_flush_gauge_set_and_delta(spark):
    pk = spark.createDataFrame(
        [(10, "g1:100|g"), (20, "g1:50|g"), (30, "g1:+7|g"), (40, "g1:-2|g")],
        "t long, packet string",
    )
    out = statsd_flush(parse_statsd_packets(pk), 60)
    r = {x["name"]: x for x in out.collect()}
    # last set (50) + deltas (+7-2) = 55
    assert r["stats.gauges.g1"]["value"] == 55.0


def test_statsd_flush_timer_stats(spark):
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0]
    pk = spark.createDataFrame(
        [(i + 1, f"tm:{v}|ms") for i, v in enumerate(vals)],
        "t long, packet string",
    )
    out = statsd_flush(parse_statsd_packets(pk), 60)
    r = {x["name"]: x["value"] for x in out.collect()}
    assert r["stats.timers.tm.count"] == 10.0
    assert r["stats.timers.tm.lower"] == 10.0
    assert r["stats.timers.tm.upper"] == 100.0
    assert math.isclose(r["stats.timers.tm.sum"], 550.0)
    assert math.isclose(r["stats.timers.tm.mean"], 55.0)
    # threshold 90: idx = floor(0.9*10+0.5)-1 = 8 → upper_90 = 90
    assert r["stats.timers.tm.upper_90"] == 90.0
    assert math.isclose(r["stats.timers.tm.sum_90"], 450.0)
    assert math.isclose(r["stats.timers.tm.mean_90"], 50.0)


def test_statsd_flush_windows_are_separate(spark):
    pk = spark.createDataFrame(
        [(10, "c1:60|c"), (70, "c1:120|c")], "t long, packet string"
    )
    out = statsd_flush(parse_statsd_packets(pk), 60)
    r = {(x["name"], x["t"]): x["value"] for x in out.collect()}
    assert math.isclose(r[("stats.c1", 60)], 1.0)
    assert math.isclose(r[("stats.c1", 120)], 2.0)


def _flush_vs_oracle(spark, packets):
    """statsd_flush of ``(t, packet)`` pairs next to its DuckDB twin
    (the three flush_*_sql families over parse_statsd_packets_sql);
    returns both as sorted (name, t, value) lists."""
    import duckdb

    from tgres_spark.aggregator import (
        flush_counters_sql,
        flush_gauges_sql,
        flush_timers_sql,
    )
    from tgres_spark.sources.statsd import parse_statsd_packets_sql

    pk = spark.createDataFrame(packets, "t long, packet string")
    got = sorted(
        (r["name"], r["t"], r["value"])
        for r in statsd_flush(parse_statsd_packets(pk), 60).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pk (t BIGINT, packet VARCHAR)")
    con.executemany("INSERT INTO pk VALUES (?, ?)", packets)
    parsed = parse_statsd_packets_sql("SELECT t, packet FROM pk")
    exp = sorted(
        tuple(r)
        for sql in (
            flush_counters_sql(parsed, 60),
            flush_gauges_sql(parsed, 60),
            flush_timers_sql(parsed, 60),
        )
        for r in con.execute(sql).fetchall()
    )
    return got, exp


def test_statsd_flush_all_families_share_one_slot(spark):
    """One name carrying a counter, a gauge set, a gauge delta and a
    timer in the same slot yields every family's rows, each equal to
    its DuckDB twin."""
    got, exp = _flush_vs_oracle(spark, [
        (5, "x:2|c"), (6, "x:4|c|@0.5"), (7, "x:10|g"), (8, "x:+3|g"),
        (9, "x:12|ms"), (10, "x:3|ms"), (11, "x:7|ms"),
    ])
    assert got == exp
    names = {n for n, _t, _v in got}
    assert {"stats.x", "stats.gauges.x", "stats.timers.x.count"} <= names
    assert len(got) == 2 + 8  # counter + gauge + 8 timer stats
    vals = {n: v for n, _t, v in got}
    assert math.isclose(vals["stats.x"], 10.0 / 60.0)
    assert vals["stats.gauges.x"] == 13.0
    assert vals["stats.timers.x.lower"] == 3.0


def test_statsd_flush_gauge_tie_in_same_second_takes_larger(spark):
    got, exp = _flush_vs_oracle(
        spark, [(5, "g:1|g"), (20, "g:4|g"), (20, "g:9|g"), (20, "g:2|g")]
    )
    assert got == exp == [("stats.gauges.g", 60, 9.0)]


def test_statsd_flush_delta_only_window(spark):
    """A window holding only deltas adjusts a base of 0; the earlier
    window's set value does not carry over."""
    got, exp = _flush_vs_oracle(
        spark, [(5, "g:50|g"), (70, "g:+1.5|g"), (80, "g:-4|g")]
    )
    assert got == exp
    assert got == [("stats.gauges.g", 60, 50.0), ("stats.gauges.g", 120, -2.5)]


def test_statsd_flush_persists_nothing(spark):
    """The flush is one lazy plan: running it leaves no cached RDD."""
    pk = spark.createDataFrame(
        [(5, "c:1|c"), (6, "g:2|g"), (7, "t:3|ms")], "t long, packet string"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = statsd_flush(parse_statsd_packets(pk), 60)
    assert out.count() == 1 + 1 + 8
    assert jsc.getPersistentRDDs().size() == before


def test_statsd_parse_cross_engine_on_adversarial_packets(spark):
    """Spark parse and the DuckDB oracle must agree row-for-row on
    grammar edge cases: pipes inside names, signs, sample-rate
    boundaries, multiple dots/colons, whitespace, junk."""
    import duckdb

    from tgres_spark.sources.statsd import (
        parse_statsd_packets,
        parse_statsd_packets_sql,
    )

    packets = [
        "a|b:1|c",              # pipe in name (legal: name = [^:]+)
        "a:1|c",
        "g1:+5|g", "g1:-5|g", "g1:5|g",
        "t:12.5|ms", "t:12.5|ms|@0.5",
        "s:1|c|@0", "s:1|c|@1", "s:1|c|@1.5",   # sample bounds (1.5 invalid)
        "s:1|c|@-0.1",          # negative sample (grammar rejects '-')
        "x:1|k",                # unknown type
        "x:|c", ":1|c", "x:1|", "x", "",
        "  pad:3|c  ",          # trim
        "do.t.ted:1|c",
        "two:col:ons:1|c",      # extra colon → value '1' not numeric? name=[^:]+ so rest='col:ons:1|c' invalid
        "neg:-0|c",
        "exp:1e3|c",            # exponent not in [0-9.]+ → rejected
        "dot:1.2.3|c",          # multiple dots → try_cast fails
    ]
    pk = spark.createDataFrame(
        [(i, x) for i, x in enumerate(packets)], "t long, packet string"
    )
    got = sorted(
        (r["t"], r["name"], r["value"], r["metric"], r["sample"], bool(r["delta"]))
        for r in parse_statsd_packets(pk).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pk (t BIGINT, packet VARCHAR)"
    )
    con.executemany("INSERT INTO pk VALUES (?, ?)", list(enumerate(packets)))
    sql = parse_statsd_packets_sql("SELECT t, packet FROM pk")
    exp = sorted(
        (r[0], r[1], r[2], r[3], r[4], bool(r[5]))
        for r in con.execute(sql).fetchall()
    )
    assert got == exp
    assert ("ab" in {r[1] for r in got})  # pipe-name packet survives, sanitized


def test_graphite_parse_cross_engine_on_adversarial_lines(spark):
    """Same contract for the graphite line protocol: whitespace
    variants, NaN/inf tokens, float timestamps, missing fields."""
    import duckdb

    from tgres_spark.sources.graphite import (
        parse_graphite_lines,
        parse_graphite_lines_sql,
    )

    lines = [
        "a.b 1.5 1000",
        "  a.b   2.5   1100  ",     # extra whitespace
        "a.b 3 1200.0",              # float-ish timestamp
        "a.b nan 1300", "a.b inf 1400", "a.b -1e3 1500",
        "a.b 1.5", "a.b", "", "a.b x 1600", "a.b 1 x",
        "tabs\t1\t1700",
    ]
    import math

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        return round(v, 9)

    df = spark.createDataFrame([(x,) for x in lines], "line string")
    got = sorted(
        (r["name"], r["t"], canon(r["value"]))
        for r in parse_graphite_lines(df).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE l (line VARCHAR)")
    con.executemany("INSERT INTO l VALUES (?)", [(x,) for x in lines])
    exp = sorted(
        (r[0], r[1], canon(r[2]))
        for r in con.execute(
            parse_graphite_lines_sql("SELECT line FROM l")
        ).fetchall()
    )
    assert got == exp


def test_sanitize_name_reference_rules(spark):
    """misc.SanitizeName: whitespace runs → '_', '/' → '-', strip the
    rest outside [a-zA-Z_\\-0-9.] — at graphite, statsd AND pixel
    ingest edges."""
    from tgres_spark.model import sanitize_name

    df = spark.createDataFrame(
        [("web/host one:x",), ("ok-name_1.cpu",)], "n string"
    )
    out = [r["s"] for r in df.select(sanitize_name(df.n).alias("s")).collect()]
    assert out == ["web-host_onex", "ok-name_1.cpu"]
