"""Untimed correctness checks: every output the benchmark collects is
compared with the program's own DuckDB twins over the same generated
files. Request outputs are compared by row count and
``tools/check_oracle.frame_hash``; whole archives by exact multiset
equality inside DuckDB.

Each check returns None when it passes, or a one-line reason.
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tgres_spark.aggregator import (  # noqa: E402
    flush_counters_sql,
    flush_gauges_sql,
    flush_timers_sql,
)
from tgres_spark.dsl.find import find_sql  # noqa: E402
from tgres_spark.dsl.parser import glob_to_regex  # noqa: E402
from tgres_spark.operators import dsl_calculate as dc  # noqa: E402
from tgres_spark.operators import dsl_combine as db  # noqa: E402
from tgres_spark.operators import dsl_filter as dfl  # noqa: E402
from tgres_spark.operators import dsl_special as ds  # noqa: E402
from tgres_spark.operators.consolidate import oracle_consolidate_sql  # noqa: E402
from tgres_spark.sources.graphite import parse_graphite_lines_sql  # noqa: E402
from tgres_spark.sources.statsd import parse_statsd_packets_sql  # noqa: E402
from tools.check_oracle import frame_hash  # noqa: E402

# target function -> twin builder over a base relation's SQL
TWINS = {
    "sumSeries": lambda b, a: db.sum_series_sql(b),
    "averageSeries": lambda b, a: db.average_series_sql(b),
    "maxSeries": lambda b, a: db.max_series_sql(b),
    "percentileOfSeries": lambda b, a: db.percentile_of_series_sql(b, a[0] / 100.0),
    "movingAverage": lambda b, a: dc.moving_average_sql(b, int(a[0])),
    "highestMax": lambda b, a: dfl.rank_series_sql(b, "max", int(a[0]), True),
    "aliasByNode": lambda b, a: ds.alias_by_node_sql(b, *[int(x) for x in a]),
}

# "<t> <packet>" statsd lines → (t, packet), as the benchmark's reader splits them
STATSD_SPLIT_SQL = (
    "SELECT * FROM (SELECT TRY_CAST(split_part(line, ' ', 1) AS BIGINT) AS t, "
    "substr(line, strpos(line, ' ') + 1) AS packet FROM {src}) WHERE t IS NOT NULL"
)


def read_lines(path: str) -> list[str]:
    with open(path) as f:
        return f.read().splitlines()


def compare(cols, got_rows, con, sql) -> str | None:
    """Row count and order-insensitive value hash of ``got_rows``
    (columns ``cols``) against the DuckDB result of ``sql``."""
    ddf = con.execute(sql).df()
    dcols = list(ddf.columns)
    drows = list(zip(*[ddf[c].tolist() for c in dcols]))
    if len(got_rows) != len(drows):
        return f"rowcount {len(got_rows)} != {len(drows)}"
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    hg, hd = frame_hash(list(cols), got_rows), frame_hash(dcols, drows)
    return None if hg == hd else f"value hash {hg} != {hd}"


def compare_exact(con, got_sql: str, want_sql: str) -> str | None:
    """Multiset equality of two (name, t, value) relations inside
    DuckDB. Used for whole archives, where hashing every row in Python
    would dominate the run; exact equality is stricter than the hash."""
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if n_got != n_want:
        return f"rowcount {n_got} != {n_want}"
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT name, t, value FROM ({got_sql}) "
        f"EXCEPT ALL SELECT name, t, value FROM ({want_sql})) UNION ALL "
        f"(SELECT name, t, value FROM ({want_sql}) "
        f"EXCEPT ALL SELECT name, t, value FROM ({got_sql})))"
    ).fetchone()[0]
    return None if diff == 0 else f"{diff} rows differ"


def parquet_sql(files: list[str]) -> str:
    if not files:
        return "SELECT CAST(NULL AS VARCHAR) AS name, CAST(NULL AS BIGINT) AS t, CAST(NULL AS DOUBLE) AS value WHERE false"
    lst = ", ".join(f"'{f}'" for f in sorted(files))
    return f"SELECT name, t, value FROM read_parquet([{lst}])"


def archive_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def load_ingest_batch(con, batch) -> tuple[int, int]:
    """Create ``sf``, the DuckDB twin of one batch's SeriesFrame: the
    parsed graphite points plus the statsd flush of the parsed packets.
    Returns the accepted (graphite, statsd) line counts."""
    con.register("g_lines", pa.table({"line": read_lines(batch.graphite)}))
    con.register("s_lines", pa.table({"line": read_lines(batch.statsd)}))
    con.execute("CREATE TABLE gp AS " + parse_graphite_lines_sql("SELECT line FROM g_lines"))
    con.execute("CREATE TABLE sp AS " + parse_statsd_packets_sql(
        STATSD_SPLIT_SQL.format(src="s_lines"), col="packet", extra="t"))
    flushed = " UNION ALL ".join(
        f"SELECT name, t, value FROM ({q})"
        for q in (flush_counters_sql("SELECT * FROM sp", 60),
                  flush_gauges_sql("SELECT * FROM sp", 60),
                  flush_timers_sql("SELECT * FROM sp", 60))
    )
    con.execute(f"CREATE TABLE sf AS SELECT name, t, value FROM gp UNION ALL {flushed}")
    return (con.execute("SELECT count(*) FROM gp").fetchone()[0],
            con.execute("SELECT count(*) FROM sp").fetchone()[0])


def check_ingest_batch(batch, root: str, specs) -> list[str]:
    """Each written archive of one batch against oracle_consolidate_sql
    over the batch's twin SeriesFrame; the accepted line counts against
    the generator's."""
    con = duckdb.connect()
    try:
        problems = []
        accepted = load_ingest_batch(con, batch)
        if accepted != (batch.graphite_ok, batch.statsd_ok):
            problems.append(
                f"accepted lines {accepted} != generated {(batch.graphite_ok, batch.statsd_ok)}"
            )
        for cf, step in specs:
            path = os.path.join(root, f"{cf}_{step}")
            err = compare_exact(con, parquet_sql(archive_files(path)),
                                oracle_consolidate_sql("SELECT * FROM sf", step, cf))
            if err:
                problems.append(f"archive {cf}_{step}: {err}")
        return problems
    finally:
        con.close()


class DashboardOracle:
    """DuckDB mirror of the dashboard's archives. Base relations are
    rebuilt from the same parquet files the program serves from."""

    def __init__(self):
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def check_archives(self, raw_files, arch_root, specs) -> list[str]:
        """Built archives against oracle_consolidate_sql over raw."""
        self.con.execute(f"CREATE OR REPLACE TABLE raw AS {parquet_sql(raw_files)}")
        problems = []
        for cf, step in specs:
            path = os.path.join(arch_root, f"{cf}_{step}")
            err = compare_exact(self.con, parquet_sql(archive_files(path)),
                                oracle_consolidate_sql("SELECT * FROM raw", step, cf))
            if err:
                problems.append(f"archive {cf}_{step}: {err}")
        return problems

    def load(self, name: str, files: list[str]) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {parquet_sql(files)}")

    def check_live(self, lines: list[str], live_tbl: str, step: int,
                   watermark_ms: int) -> str | None:
        """The live archive holds exactly the slots the watermark has
        released: end-labelled micro6 averages of every appended line
        whose slot end is at or before the watermark."""
        self.con.register("live_lines", pa.table({"line": lines}))
        parsed = parse_graphite_lines_sql("SELECT line FROM live_lines")
        sql = (
            f"SELECT name, (w + 1) * {step} AS t, "
            "CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) "
            "/ 1000000.0 / COUNT(value) AS value "
            f"FROM (SELECT name, (t - 1) // {step} AS w, value FROM ({parsed})) "
            f"GROUP BY name, w HAVING (w + 1) * {step} * 1000 <= {watermark_ms}"
        )
        got = self.con.execute(f"SELECT name, t, value FROM {live_tbl}").fetchall()
        err = compare(["name", "t", "value"], got, self.con, sql)
        self.con.unregister("live_lines")
        return err

    def check_render(self, req, rows, base_tbl: str) -> str | None:
        """One request's rows (name, t, value) against the twin of its
        target over the base relation the request was served from."""
        base = (
            f"SELECT name, t, value FROM {base_tbl} "
            f"WHERE regexp_matches(name, '{glob_to_regex(req.glob)}') "
            f"AND t >= {req.t_from} AND t <= {req.t_to}"
        )
        if req.path == "render" and req.max_points:
            step = max(1, (req.t_to - req.t_from) // req.max_points)
            base = oracle_consolidate_sql(base, int(step), "avg")
        return compare(["name", "t", "value"], rows, self.con,
                       TWINS[req.func](base, req.args))

    def check_find(self, query: str, rows, catalog_tbl: str) -> str | None:
        sql = find_sql(f"SELECT DISTINCT name FROM {catalog_tbl}", query)
        return compare(["path", "is_leaf"], rows, self.con, sql)
