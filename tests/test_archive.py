"""Archive catalog + BestRRA routing (rrd/ds.go:134-197 parity)."""

from __future__ import annotations

import pytest

from tgres_spark.archive import Archive, ArchiveDslContext, ArchiveSet


def _mkset(spark, steps, base_step=10, spans=None, latests=None):
    base = spark.createDataFrame(
        [("s", 0, 1.0)], "name string, t long, value double"
    )
    s = ArchiveSet(base, base_step=base_step)
    for i, st in enumerate(steps):
        s.add(
            "wmean", st, base,
            span=None if spans is None else spans[i],
            latest=None if latests is None else latests[i],
        )
    return s


def test_best_picks_closest_resolution(spark):
    s = _mkset(spark, [60, 600, 3600])
    # 1 day / 24 points → expected step 3600
    assert s.best(0, 86400, 24).step == 3600
    # 1 day / 1440 points → expected step 60
    assert s.best(0, 86400, 1440).step == 60
    # 1 hour / 8 points → expected 450 → closest is 600
    assert s.best(0, 3600, 8).step == 600


def test_best_no_points_picks_finest(spark):
    s = _mkset(spark, [60, 3600])
    assert s.best(0, 86400, None).step == 10  # raw base participates


def test_best_respects_span_coverage(spark):
    # archives: 1h-span fine vs unbounded coarse; start older than the
    # fine archive's window → only the coarse one covers it
    s = _mkset(
        spark, [60, 3600],
        spans=[3600, None], latests=[100_000, 100_000],
    )
    s.archives[0].span = 50  # base raw keeps only 50s
    s.archives[0].latest = 100_000
    old_start = 100_000 - 7200
    assert s.best(old_start, 100_000, 1000).step == 3600
    # ds.go:141-143: an archive whose latest < start is also a candidate
    s2 = _mkset(spark, [60], spans=[3600], latests=[10])
    assert s2.best(5000, 6000, None).step in (10, 60)


def test_wide_span_render_reads_coarse_archive(spark, tmp_path):
    """The VERDICT-6 'done' check: a wide-span request must SCAN the
    materialized 1h parquet archive, not raw (visible in inputFiles)."""
    from tgres_spark.archive import materialize_archives

    rows = [
        ("web.hits", t, float(t % 7)) for t in range(0, 200_000, 10)
    ]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arch = materialize_archives(
        spark, sf, [("wmean", 60), ("wmean", 3600)], str(tmp_path / "rra"),
        base_step=10,
    )
    ctx = ArchiveDslContext(arch, t_from=0, t_to=180_000, max_points=50)
    out = ctx.fetch("web.*")
    assert ctx.last_selected.step == 3600
    files = out.inputFiles()
    assert files and all("wmean_3600" in f for f in files)
    # and the data really is 1h-stepped
    ts = sorted(r["t"] for r in out.select("t").distinct().collect())
    assert all(t % 3600 == 0 for t in ts)


def test_narrow_span_falls_back_to_raw(spark, tmp_path):
    from tgres_spark.archive import materialize_archives

    rows = [("web.hits", t, 1.0) for t in range(0, 7200, 10)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arch = materialize_archives(
        spark, sf, [("wmean", 3600)], str(tmp_path / "rra"), base_step=10
    )
    ctx = ArchiveDslContext(arch, t_from=0, t_to=600, max_points=60)
    ctx.fetch("web.*")
    assert ctx.last_selected.step == 10  # expected step 10 → raw


def test_dsl_functions_run_over_routed_archive(spark, tmp_path):
    """The whole DSL evaluates on top of routing (ds_lru.go:271: every
    DSL fetch goes through BestRRA)."""
    from tgres_spark.archive import materialize_archives
    from tgres_spark.dsl.evaluator import evaluate

    rows = []
    for nm in ("web.h1.hits", "web.h2.hits"):
        rows += [(nm, t, 2.0) for t in range(0, 100_000, 10)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arch = materialize_archives(
        spark, sf, [("wmean", 3600)], str(tmp_path / "rra"), base_step=10
    )
    ctx = ArchiveDslContext(arch, t_from=0, t_to=90_000, max_points=25)
    out = evaluate(ctx, "sumSeries(web.*.hits)")
    assert ctx.last_selected.step == 3600
    vals = {r["t"]: r["value"] for r in out.collect()}
    assert vals[3600] == 4.0  # two constant-2 series summed


def test_partitioned_archive_prunes_day_and_bucket(spark, tmp_path):
    """The SCALE.md layout must prune at the FILE level: a time-ranged
    exact-name fetch shows day-range + bucket partition filters (file
    listing) and t-range pushed filters (row groups)."""
    from tgres_spark.archive import ArchiveDslContext, materialize_archives

    rows = [
        (f"m.{i}", 1704067200 + j * 600, float(j))
        for i in range(4)
        for j in range(288)
    ]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arc = materialize_archives(
        spark, sf, [("wmean", 3600)], str(tmp_path / "arc"),
        partitioned=True, n_buckets=4,
    )
    ctx = ArchiveDslContext(
        arc, t_from=1704067200, t_to=1704067200 + 86400, max_points=24
    )
    df = ctx.fetch("m.1")
    assert df.count() == 25  # 24 hourly slots +1 boundary, one series
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters") :].split("]")[0]
    assert "day" in pf and "bucket" in pf
    assert "GreaterThanOrEqual(t" in plan  # row filter still pushed


def test_refresh_archives_incremental_equals_full_rebuild(spark, tmp_path):
    """The incremental day-partition refresh must (1) produce rollups
    BIT-equal to a full rebuild, including the first slot after the
    refresh boundary whose lag-predecessor lives in the lookback
    window, and (2) leave pre-boundary partition files untouched."""
    import os

    from pyspark.sql import functions as F

    from tgres_spark.archive import materialize_archives, refresh_archives

    def mk(rows):
        return spark.createDataFrame(rows, "name string, t long, value double")

    day = 86400
    rows_old = [
        ("m.a", d * day + off, float((d * 7 + off) % 13))
        for d in range(1, 4)
        for off in (120, 7200, 50000, day - 300)
    ]
    root = str(tmp_path / "arch")
    specs = [("wmean", 3600), ("max", 3600)]
    materialize_archives(
        spark, mk(rows_old), specs, root, heartbeat=7200, partitioned=True
    )
    def digest(skip_day):
        import hashlib

        out = {}
        for dp, _, files in os.walk(root):
            if skip_day in dp:
                continue
            for fn in files:
                if fn.endswith(".parquet"):
                    with open(os.path.join(dp, fn), "rb") as f:
                        out[os.path.join(dp, fn)] = hashlib.md5(
                            f.read()
                        ).hexdigest()
        return out

    before = digest("day=4")

    # day 4 arrives; its first point's predecessor is day 3's last
    rows_new = rows_old + [
        ("m.a", 4 * day + off, float(off % 11)) for off in (60, 3000, 40000)
    ]
    refresh_archives(
        spark, mk(rows_new), specs, root, since_t=4 * day, heartbeat=7200
    )

    full_root = str(tmp_path / "full")
    materialize_archives(
        spark, mk(rows_new), specs, full_root, heartbeat=7200, partitioned=True
    )
    for cf, step in specs:
        inc = {
            (r["name"], r["t"]): r["value"]
            for r in spark.read.parquet(f"{root}/{cf}_{step}").collect()
        }
        full = {
            (r["name"], r["t"]): r["value"]
            for r in spark.read.parquet(f"{full_root}/{cf}_{step}").collect()
        }
        assert inc == full, (cf, step)

    after = digest("day=4")
    assert before == after  # pre-boundary partition files untouched


def test_refresh_lookback_boundary_inclusive(spark, tmp_path):
    """A predecessor exactly at ``day_start - lookback_s`` with
    ``heartbeat == lookback_s`` (the documented validity boundary) must
    be kept by the slice: its successor at ``day_start`` then carries a
    known interval of exactly ``heartbeat`` seconds instead of becoming
    a series head, so the incremental refresh stays bit-equal to a full
    rebuild."""
    from tgres_spark.archive import materialize_archives, refresh_archives

    def mk(rows):
        return spark.createDataFrame(rows, "name string, t long, value double")

    day = 86400
    # one point per day, landing exactly on each midnight
    rows_old = [("m.b", d * day, float(d)) for d in range(1, 4)]
    root = str(tmp_path / "arch")
    specs = [("wmean", 3600)]
    materialize_archives(
        spark, mk(rows_old), specs, root, heartbeat=day, partitioned=True
    )
    # day 4 arrives: its point at exactly 4*day has its lag-predecessor
    # at exactly 3*day == day_start - lookback_s
    rows_new = rows_old + [("m.b", 4 * day, 4.0)]
    refresh_archives(
        spark, mk(rows_new), specs, root,
        since_t=4 * day, lookback_s=day, heartbeat=day,
    )
    full_root = str(tmp_path / "full")
    materialize_archives(
        spark, mk(rows_new), specs, full_root, heartbeat=day, partitioned=True
    )
    inc = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(f"{root}/wmean_3600").collect()
    }
    full = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(f"{full_root}/wmean_3600").collect()
    }
    assert inc == full


def test_retention_prune_drops_expired_days_bit_equal(spark, tmp_path):
    """prune_archive must (a) physically remove exactly the day
    directories strictly below the cutoff, (b) keep the boundary day
    whole (its few expired slots included, as rra.includes tolerates),
    (c) be idempotent, and (d) leave a re-read BIT-equal to the
    span-windowed full rollup."""
    import os

    from pyspark.sql import functions as F

    from tgres_spark.archive import materialize_archives, prune_archive

    # 10 days of one series, hourly points
    t0 = 1704067200
    rows = [("s", t0 + i * 3600, float(i % 7)) for i in range(10 * 24)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    root = str(tmp_path / "arch")
    materialize_archives(
        spark, sf, [("wmean", 3600)], root, base_step=3600, partitioned=True
    )
    path = f"{root}/wmean_3600"
    full = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(path).select("name", "t", "value").collect()
    }

    span = 4 * 86400
    m = prune_archive(spark, path, span_s=span)
    latest = max(t for (_, t) in full)
    cutoff_day = (latest - span) // 86400
    assert m["latest"] == latest and m["cutoff_day"] == cutoff_day
    # exactly the sub-cutoff days are gone from DISK
    dirs = {d for d in os.listdir(path) if d.startswith("day=")}
    assert dirs == {f"day={d}" for d in m["kept_days"]}
    assert all(d < cutoff_day for d in m["dropped_days"])
    assert all(d >= cutoff_day for d in m["kept_days"])
    assert m["dropped_days"] and m["kept_days"]

    # idempotent: second run deletes nothing
    again = prune_archive(spark, path, span_s=span)
    assert again["dropped_days"] == [] and again["kept_days"] == m["kept_days"]

    # re-read == day-windowed slice of the pre-prune archive, bit-equal
    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(path).select("name", "t", "value").collect()
    }
    want = {k: v for k, v in full.items() if k[1] // 86400 >= cutoff_day}
    assert got == want
    # the boundary day retains slots OLDER than latest-span (day ring
    # granularity) — prune is day-atomic, not slot-atomic
    assert any(t < latest - span for (_, t) in got)


def test_compact_archive_merges_files_bit_equal(spark, tmp_path):
    """compact_archive must (a) reduce every fragmented (day, bucket)
    directory to ≤ max_files parquet files, (b) leave already-compact
    directories' files untouched (no gratuitous rewrite), (c) be
    idempotent, and (d) keep the re-read BIT-equal."""
    import os

    from pyspark.sql import functions as F

    from tgres_spark.archive import compact_archive

    t0 = 1704067200
    rows = [(f"s{j}", t0 + i * 3600, float(i + j))
            for i in range(5 * 24) for j in range(6)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    path = str(tmp_path / "arch")
    (
        sf.withColumn("day", F.expr("CAST(t DIV 86400 AS BIGINT)"))
        .withColumn("bucket", F.pmod(F.xxhash64(F.col("name")), 2))
        .repartition(8)
        .write.mode("overwrite")
        .partitionBy("day", "bucket")
        .parquet(path)
    )

    def files_per_dir():
        out = {}
        for day in os.listdir(path):
            if not day.startswith("day="):
                continue
            for b in os.listdir(f"{path}/{day}"):
                if b.startswith("bucket="):
                    out[f"{day}/{b}"] = sorted(
                        f for f in os.listdir(f"{path}/{day}/{b}")
                        if f.endswith(".parquet")
                    )
        return out

    before = files_per_dir()
    assert any(len(v) > 1 for v in before.values()), "fixture must fragment"
    compact_ones = {k for k, v in before.items() if len(v) == 1}
    full = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(path).select("name", "t", "value").collect()
    }

    m = compact_archive(spark, path, max_files=1)
    after = files_per_dir()
    assert set(m["compacted"]) == {k for k, v in before.items() if len(v) > 1}
    assert all(len(v) == 1 for v in after.values())
    # untouched directories keep their exact file names
    for k in compact_ones:
        assert after[k] == before[k]

    again = compact_archive(spark, path, max_files=1)
    assert again["n_partitions"] == 0

    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(path).select("name", "t", "value").collect()
    }
    assert got == full


SPECS3 = [("wmean", 60), ("max", 600), ("min", 3600)]


def _rows(df):
    return sorted(tuple(r) for r in df.select("name", "t", "value").collect())


def test_rematerialize_replaces_archives_without_stale_files(spark, tmp_path):
    """Writing into an existing root replaces every archive whole: the
    directories hold only the new rollups (no stale parquet from the
    first write) and no staging directory is left under root."""
    import os

    from tgres_spark.archive import materialize_archives
    from tgres_spark.operators.consolidate import consolidate

    def mk(prefix, n):
        rows = [(f"{prefix}.{i}", t, float(t % 11 + i))
                for i in range(n) for t in range(0, 7200, 30)]
        return spark.createDataFrame(rows, "name string, t long, value double")

    root = str(tmp_path / "rra")
    materialize_archives(spark, mk("old", 5).repartition(4), SPECS3, root)
    new = mk("new", 2)
    arch = materialize_archives(spark, new, SPECS3, root)
    assert sorted(os.listdir(root)) == sorted(f"{cf}_{st}" for cf, st in SPECS3)
    for (cf, step), a in zip(SPECS3, arch.archives[1:]):
        want = _rows(consolidate(new, step, cf=cf))
        assert _rows(spark.read.parquet(f"{root}/{cf}_{step}")) == want
        assert _rows(a.df) == want


def test_empty_input_yields_readable_empty_archives(spark, tmp_path):
    from tgres_spark.archive import materialize_archives

    root = str(tmp_path / "rra")
    sf = spark.createDataFrame([], "name string, t long, value double")
    arch = materialize_archives(spark, sf, SPECS3, root)
    assert [(a.cf, a.step) for a in arch.archives[1:]] == SPECS3
    for (cf, step), a in zip(SPECS3, arch.archives[1:]):
        assert a.df.columns == ["name", "t", "value"]
        assert a.df.count() == 0
        assert spark.read.parquet(f"{root}/{cf}_{step}").count() == 0


def test_partitioned_write_keeps_day_bucket_layout(spark, tmp_path):
    import os

    from tgres_spark.archive import materialize_archives

    t0 = 1704067200
    rows = [(f"m.{i}", t0 + j * 900, float(j)) for i in range(6)
            for j in range(2 * 96)]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    root = str(tmp_path / "rra")
    arch = materialize_archives(
        spark, sf, SPECS3, root, partitioned=True, n_buckets=4
    )
    assert sorted(os.listdir(root)) == sorted(f"{cf}_{st}" for cf, st in SPECS3)
    for cf, step in SPECS3:
        path = f"{root}/{cf}_{step}"
        days = [d for d in os.listdir(path) if not d.startswith((".", "_"))]
        assert len(days) >= 2 and all(d.startswith("day=") for d in days)
        for d in days:
            buckets = [b for b in os.listdir(f"{path}/{d}")
                       if not b.startswith((".", "_"))]
            assert buckets and all(b.startswith("bucket=") for b in buckets)
            for b in buckets:
                assert any(f.endswith(".parquet")
                           for f in os.listdir(f"{path}/{d}/{b}"))
    for a in arch.archives[1:]:
        assert a.buckets == 4
        assert a.df.columns == ["name", "t", "value", "day", "bucket"]


def test_three_rra_ingest_write_runs_few_jobs(spark, tmp_path):
    """Parse → flush → three RRAs is ONE write: the shared input is
    computed once for all archives (exchange reuse), so the whole
    materialization stays within a handful of Spark jobs."""
    from tgres_spark.aggregator import statsd_flush
    from tgres_spark.archive import materialize_archives
    from tgres_spark.sources.graphite import parse_graphite_lines
    from tgres_spark.sources.statsd import parse_statsd_packets

    lines = spark.createDataFrame(
        [(f"web.h{i % 5}.hits {i % 7}.5 {1000 + i * 13}",) for i in range(400)]
        + [("not a metric",)],
        "line string",
    )
    packets = ["c1:1|c", "g1:5|g", "g1:+2|g", "tm:12|ms", "c1:3|c|@0.5"]
    pk = spark.createDataFrame(
        [(1000 + i * 7, packets[i % len(packets)]) for i in range(200)],
        "t long, packet string",
    )
    sf = parse_graphite_lines(lines).unionAll(
        statsd_flush(parse_statsd_packets(pk), 60)
    )
    sc = spark.sparkContext
    group = "test-three-rra-write"
    sc.setJobGroup(group, "three-RRA archive write")
    try:
        arch = materialize_archives(spark, sf, SPECS3, str(tmp_path / "rra"))
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 8, len(jobs)
    assert all(a.df.count() > 0 for a in arch.archives[1:])
