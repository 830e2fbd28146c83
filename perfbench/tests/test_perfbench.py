"""Tests of the benchmark's own parts; only the retention test starts a
(one-core) Spark session.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys
from collections import Counter
from datetime import date
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import landing  # noqa: E402
import run  # noqa: E402
import tpch_data  # noqa: E402
import warehouse  # noqa: E402


def test_table_generator_is_deterministic_per_seed():
    a = tpch_data.build_tables(0.001, 5)
    b = tpch_data.build_tables(0.001, 5)
    c = tpch_data.build_tables(0.001, 6)
    assert set(a) == set(tpch_data.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == tpch_data.table_sizes(0.001)["lineitem"]


def test_landing_generator_is_deterministic_per_seed():
    def render(seed):
        lz = landing.build_landing(seed)
        pages = [landing.games_page(s) + landing.standings_page(s) for s in lz.seasons.values()]
        docs = [landing.schedule_doc(s, t) for s in lz.seasons.values() for t in ("REG", "PST")]
        return pages, json.dumps(docs), lz.phases

    assert render(3) == render(3)
    assert render(3)[0] != render(4)[0]


def test_pages_carry_separators_and_division_rows():
    lz = landing.build_landing(1)
    season = lz.seasons[landing.FIRST_YEAR]
    assert re.search(r"<td>\d{1,2},\d{3}</td>", landing.games_page(season))
    page = landing.standings_page(season)
    assert page.count("Atlantic Division") == 14


def _conftest_module():
    spec = importlib.util.spec_from_file_location("repo_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_expected_mart_on_the_test_fixture_landing_zone():
    """4 games, 3 teams with stats: games 1-3 have both teams in the
    standings (visitor row + home row each); game 4, Chicago at Dallas,
    has only its home team there — 2 + 2 + 2 + 1 = 7 rows."""
    fx = _conftest_module()
    games, stats = landing.records_from_csv(fx.GAMES_CSV, fx.TEAM_STATS_CSV)
    assert len(games) == 4 and len(stats) == 3
    rows = landing.mart_rows(games, stats)
    assert len(rows) == 7
    per_game = Counter(r[0] for r in rows)
    assert per_game == {
        date(2025, 1, 4): 2, date(2025, 1, 5): 2, date(2025, 1, 6): 2, date(2025, 1, 7): 1,
    }
    chicago = [r for r in rows if r[2] == "Chicago Blackhawks"]
    assert len(chicago) == 1 and chicago[0][3] is None and chicago[0][7] is None


def test_expected_results_replay_appends_nothing():
    lz = landing.build_landing(2)
    exp = landing.expected_results(lz)
    assert list(exp) == ["full_load", "incremental", "replay"]
    assert all(n == 0 for n in exp["replay"]["appended"].values())
    new_season = landing.FIRST_YEAR + landing.FULL_SEASONS
    assert exp["incremental"]["appended"]["raw_regular_season"] == len(lz.seasons[new_season].games)
    assert exp["incremental"]["appended"]["raw_api_teams"] == 0  # landed again unchanged
    seasons = landing.FULL_SEASONS + 1
    assert exp["replay"]["team_statistics_per_season"] == {
        y: len(landing.TEAMS) for y in range(landing.FIRST_YEAR, landing.FIRST_YEAR + seasons)
    }
    assert exp["replay"]["mart"] == exp["incremental"]["mart"]
    # every game joins each season's stats row of both its teams
    assert len(exp["replay"]["mart"]) == seasons * landing.GAMES_PER_SEASON * seasons * 2


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_a_wrong_view_count_fails_its_model(monkeypatch):
    """Views have no appended count; a wrong count must fail the model
    that built the view, not raise out of the check."""
    wl = warehouse.WarehouseWorkload(2)
    exp = wl.expected["full_load"]
    got = {"teams": exp["counts"]["teams"] + 1, "raw_api_teams": exp["counts"]["raw_api_teams"]}
    monkeypatch.setattr(warehouse, "_row_counts", lambda spark, tables: ({t: got[t] for t in tables}, {}))
    spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: None),
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=lambda: {})),
    )
    ctx = SimpleNamespace(spark=spark, note=lambda *a: None, log=lambda *a: None)
    ops = {"landed": exp["landed_files"], "extract": {"ok": True}, "teams": {"ok": True}, "raw_api_teams": {"ok": True}}
    wl._check(ctx, "full_load", ops, {t: 0 for t in landing.COUNTED})
    assert ops["teams"]["ok"] is False
    assert ops["raw_api_teams"]["ok"] is True and ops["extract"]["ok"] is True


def test_tracer_fails_an_op_that_outran_job_retention(tmp_path, monkeypatch):
    """With 20 retained jobs the status store trims to 19 once it holds
    21, so an op of 25 jobs shows 19 or 20 of them: the tracer must
    refuse it, and count an op of 18 exactly."""
    from nhl_data_warehouse_spark.session import get_spark
    from tracing import RetentionExceeded, Tracer

    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp")):
        (tmp_path / sub).mkdir()
        monkeypatch.setenv(var, str(tmp_path / sub))
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    spark = get_spark(app_name="perfbench-test", master="local[1]", shuffle_partitions=1, extra_conf={
        "spark.ui.retainedJobs": "20",
        "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_path / 'tmp'} -XX:-UsePerfData",
    })
    try:
        tracer = Tracer(spark)
        rdd = spark.sparkContext.parallelize([1], 1)

        def op(name, jobs):
            tracer.begin(name)
            for _ in range(jobs):
                rdd.count()
            return tracer.end()

        assert op("under", 18)["scheduler.jobs"] == 18
        with pytest.raises(RetentionExceeded):
            op("over", 25)
    finally:
        run.stop_session(spark)
