"""Self-tests of the benchmark at a tiny input size.

    python3 -m pytest perfbench -q -p no:cacheprovider

- the printed result has the contract's keys, and its metric names and
  units are exactly those BENCHMARK.json declares;
- the correctness checks catch one perturbed value in a copy of an
  archive and in a render answer, and a failed check makes the command
  exit non-zero.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pytest

from perfbench import dashboard, gen, ingest, oracle, run

BENCH = json.load(open(os.path.join(run.REPO, "BENCHMARK.json")))


def _tiny(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(ingest, "N_DC", 1)
    monkeypatch.setattr(ingest, "N_HOST", 2)
    monkeypatch.setattr(ingest, "N_STATSD", 300)
    monkeypatch.setattr(dashboard, "N_HOST", 8)


def _run(capsys, *argv) -> tuple[int, dict]:
    code = run.main(list(argv))
    last = capsys.readouterr().out.strip().splitlines()[-1]
    return code, json.loads(last)


def _assert_schema(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest", "dashboard"])
def test_timed_run_schema(monkeypatch, tmp_path, capsys, workload):
    _tiny(monkeypatch, tmp_path)
    code, result = _run(capsys, "--workload", workload, "--seed", "3",
                        "--seconds", "1", "--trace", "0")
    assert code == 0 and result["correct"] and result["failed"] == 0
    _assert_schema(result, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_schema(monkeypatch, tmp_path, capsys):
    _tiny(monkeypatch, tmp_path)
    monkeypatch.setitem(run.TRACE_OPS, "ingest", 1)
    code, result = _run(capsys, "--workload", "ingest", "--seed", "3",
                        "--seconds", "1", "--trace", "1")
    assert code == 0 and result["correct"]
    _assert_schema(result, BENCH["per_layer"])
    m = result["metrics"]
    assert m["sources.graphite.lines_in"]["value"] == 2 * 10 * 5
    assert m["operators.consolidate.slots_out"]["value"] > 0


def test_failed_check_exits_nonzero(monkeypatch, tmp_path, capsys):
    _tiny(monkeypatch, tmp_path)
    monkeypatch.setattr(oracle, "compare_exact", lambda con, got, want: "forced mismatch")
    code, result = _run(capsys, "--workload", "ingest", "--seed", "3",
                        "--seconds", "1", "--trace", "0")
    assert code == 1
    assert not result["correct"] and result["failed"] >= 1


def _twin_archives(batch, root: str) -> None:
    """Write a batch's archives from the DuckDB twins themselves."""
    con = duckdb.connect()
    oracle.load_ingest_batch(con, batch)
    for cf, step in ingest.SPECS:
        d = os.path.join(root, f"{cf}_{step}")
        os.makedirs(d)
        sql = oracle.oracle_consolidate_sql("SELECT * FROM sf", step, cf)
        con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
    con.close()


def test_check_catches_perturbed_archive(tmp_path):
    rng = np.random.default_rng(5)
    names = gen.series_names(1, 3)
    batch = gen.write_batch(rng, str(tmp_path / "in"), 0, names, 4, 600, 60, 400)
    good = str(tmp_path / "good")
    _twin_archives(batch, good)
    assert oracle.check_ingest_batch(batch, good, ingest.SPECS) == []

    bad = str(tmp_path / "bad")
    shutil.copytree(good, bad)
    part = os.path.join(bad, "wmean_60", "part-0.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE a AS SELECT * FROM '{part}'")
    con.execute("UPDATE a SET value = value + 0.001 WHERE rowid = 0")
    con.execute(f"COPY a TO '{part}' (FORMAT PARQUET)")
    con.close()
    problems = oracle.check_ingest_batch(batch, bad, ingest.SPECS)
    assert len(problems) == 1 and "wmean_60" in problems[0]


def test_check_catches_perturbed_render_answer():
    orc = oracle.DashboardOracle()
    try:
        orc.con.execute(
            "CREATE TABLE cat AS SELECT 'servers.dc0.host' || (i % 3) || '.cpu.user' AS name, "
            "CAST(60 * (i // 3) AS BIGINT) AS t, CAST(i AS DOUBLE) AS value FROM range(30) r(i)")
        req = dashboard.Req("render", "k", "sumSeries", "servers.dc0.*.cpu.user", (),
                            3600, 0, None, "render", t_from=0, t_to=3600)
        want = orc.con.execute(oracle.TWINS["sumSeries"](
            "SELECT * FROM cat", ())).fetchall()
        assert orc.check_render(req, want, "cat") is None
        bad = [want[0][:2] + (want[0][2] + 1.0,)] + want[1:]
        assert orc.check_render(req, bad, "cat") is not None
    finally:
        orc.close()
