"""The ``warehouse_refresh`` workload: the NHL ELT through ``PipelineRunner``.

One round, in a fresh database and a fresh landing directory, runs
three phases: the full load, an incremental batch (one new season plus
files landed again unchanged) and a replay of that batch. Each phase
extracts through the injected fetchers, then runs the ten models:
six incremental raw loads, the two staging views, the mart view and
the rollup table, with the quality gates on the raw games, the
cleaned team statistics and both mart models.

Operations are the phase's extraction and each model (build,
materialize, gates). The runner runs the models itself, so a model's
latency runs from its build call to the next model's build call (or
to the end of the run). After each phase the clock stops while the
warehouse is checked against ``landing.expected_results``.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import landing as lz


class WarehouseWorkload:
    warm_rounds = 0  # warm_and_check runs a full load

    def __init__(self, seed: int):
        self.landing = lz.build_landing(seed)
        self.expected = lz.expected_results(self.landing)
        self.pages: dict[str, str] = {}
        self.run_dir = ""
        self.rounds = 0

    def generate(self, run_dir: str) -> None:
        from nhl_data_warehouse_spark.sources.extract import GAMES_URL_TMPL, STANDINGS_URL_TMPL

        self.run_dir = run_dir
        for y, season in self.landing.seasons.items():
            self.pages[GAMES_URL_TMPL.format(year=y)] = lz.games_page(season)
            self.pages[STANDINGS_URL_TMPL.format(year=y)] = lz.standings_page(season)

    def warm_and_check(self, ctx) -> None:
        """Untimed warm-up: a full load in a scratch database. Outputs are
        checked in every timed round."""
        self.round(ctx, phases=["full_load"], check=False)

    # -- one round -----------------------------------------------------------

    def round(self, ctx, phases: list[str] | None = None, check: bool = True) -> None:
        spark = ctx.spark
        self.rounds += 1
        db = f"perfbench_wr_{self.rounds}"
        land = os.path.join(self.run_dir, f"landing_{self.rounds}")
        spark.sql(f"CREATE DATABASE {db}")
        spark.catalog.setCurrentDatabase(db)
        restore = _trace_writes(ctx.tracer, os.path.join(ctx.warehouse_dir, f"{db}.db")) if ctx.tracer else None
        counts = {t: 0 for t in lz.COUNTED}
        try:
            for phase in phases or self.landing.phases:
                ctx.resume()
                ops = self._phase(ctx, land, self.landing.phases[phase])
                ctx.pause()
                if check:
                    self._check(ctx, phase, ops, counts)
        finally:
            if restore:
                restore()
            spark.catalog.setCurrentDatabase("default")
            spark.sql(f"DROP DATABASE {db} CASCADE")
            shutil.rmtree(land, ignore_errors=True)

    def _phase(self, ctx, land: str, spec: dict) -> dict:
        from nhl_data_warehouse_spark.sources import extract_api_endpoint, scrape_season_tables

        lz_ = self.landing
        tracer = ctx.tracer
        ops: dict = {}
        ops["extract"] = ctx.begin("extract")
        t0 = time.perf_counter()
        landed = []
        try:
            for y in spec["scrape"]:
                landed += scrape_season_tables(y, land, fetch=self.pages.__getitem__).values()
            docs = [("teams", lz_.teams_doc, str(lz.FIRST_YEAR)),
                    ("seasons", lz.seasons_doc(lz_, int(spec["seasons_tag"])), spec["seasons_tag"])]
            for y in spec["schedules"]:
                docs.append(("regular_season", lz.schedule_doc(lz_.seasons[y], "REG"), str(y)))
                docs.append(("post_season", lz.schedule_doc(lz_.seasons[y], "PST"), str(y)))
            if spec["empty_schedule"]:
                last = lz_.seasons[spec["schedules"][-1]]
                docs.append(("regular_season", lz.schedule_doc(last, "REG", with_games=False), f"{last.year}_empty"))
            for endpoint, doc, tag in docs:
                landed.append(extract_api_endpoint(endpoint, land, lambda _e, d=doc: d, date_tag=tag))
            ops["landed"] = sum(p is not None for p in landed)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            ctx.log(f"extract: {type(e).__name__}: {str(e)[:200]}")
            ops["extract"]["ok"] = False
        if tracer:
            tracer.add("sources.extract_s", time.perf_counter() - t0)
        runner = self._runner(ctx, land, ops)
        try:
            runner.run()
        except Exception as e:  # noqa: BLE001 — the failing model and all after it fail
            if type(e).__name__ == "RetentionExceeded":
                raise  # a traced count was lost: stop the run, do not count a failed op
            ctx.log(f"pipeline: {type(e).__name__}: {str(e)[:300]}")
            if ctx.current:
                ctx.current["ok"] = False
            ctx.end()
            for m in runner.models:
                if m not in ops:
                    ops[m] = ctx.not_run(m)
        ctx.end()
        return ops

    def _runner(self, ctx, land: str, ops: dict):
        from nhl_data_warehouse_spark import schemas
        from nhl_data_warehouse_spark.operators import mart, staging
        from nhl_data_warehouse_spark.plans import Model, PipelineRunner, null_check, row_count_check, unique_check
        from nhl_data_warehouse_spark.sources import load_games_csv, load_json_raw, load_team_stats_csv
        from nhl_data_warehouse_spark.sources.json_source import guard_has_games

        tracer = ctx.tracer

        def model(name, fn, deps=(), materialization="incremental", checks=(), src=None):
            def build(spark, **inputs):
                if name not in ops:
                    ops[name] = ctx.begin(name)
                    if tracer and src:
                        tracer.add("sources.files_loaded", len(os.listdir(f"{land}/{src}")))
                if tracer:
                    tracer.add("plans.attempts", 1)
                    t0 = time.perf_counter()
                    try:
                        return fn(spark, **inputs)
                    finally:
                        tracer.add("plans.model_build_s", time.perf_counter() - t0)
                return fn(spark, **inputs)

            gates = [_traced_gate(tracer, c) for c in checks] if tracer else list(checks)
            return Model(name, build, deps=list(deps), materialization=materialization, checks=gates)

        runner = PipelineRunner(ctx.spark)
        for m in [
            model("raw_regular_season", lambda s: load_games_csv(s, f"{land}/csv/seasons/"),
                  checks=[lambda df: unique_check(df, ["unique_key"])], src="csv/seasons"),
            model("raw_team_stats", lambda s: load_team_stats_csv(s, f"{land}/csv/teams/"), src="csv/teams"),
            model("raw_api_teams", lambda s: load_json_raw(s, f"{land}/json/teams/", schemas.API_TEAMS_SCHEMA),
                  src="json/teams"),
            model("raw_api_seasons", lambda s: load_json_raw(s, f"{land}/json/seasons/", schemas.API_SEASONS_SCHEMA),
                  src="json/seasons"),
            model("raw_reg_schedules",
                  lambda s: guard_has_games(load_json_raw(s, f"{land}/json/regular_season/", schemas.API_SCHEDULE_SCHEMA)),
                  src="json/regular_season"),
            model("raw_playoff_schedules",
                  lambda s: guard_has_games(load_json_raw(s, f"{land}/json/post_season/", schemas.API_SCHEDULE_SCHEMA)),
                  src="json/post_season"),
            model("team_statistics", lambda s, raw_team_stats: staging.team_statistics(raw_team_stats),
                  deps=["raw_team_stats"], materialization="view", checks=[lambda df: null_check(df, ["team"])]),
            model("teams", lambda s, raw_api_teams: staging.teams(raw_api_teams), deps=["raw_api_teams"],
                  materialization="view"),
            model("seasonal_metrics_agg",
                  lambda s, raw_regular_season, team_statistics: mart.seasonal_metrics_agg(raw_regular_season, team_statistics),
                  deps=["raw_regular_season", "team_statistics"], materialization="view", checks=[row_count_check]),
            model("seasonal_team_rollup", lambda s, raw_regular_season: mart.seasonal_team_rollup(raw_regular_season),
                  deps=["raw_regular_season"], materialization="table",
                  checks=[lambda df: unique_check(df, ["season_year", "team"])]),
        ]:
            runner.register(m)
        return runner

    # -- checks (clock stopped) ------------------------------------------------

    def _check(self, ctx, phase: str, ops: dict, counts: dict) -> None:
        """Compare the warehouse with the expected state; a mismatch fails
        the op that built the table. ``counts`` carries each table's row
        count from the previous phase, so appended rows are checked too
        (zero on the replay)."""
        import check_oracle
        from pyspark.sql import functions as F

        from nhl_data_warehouse_spark.session import release_cached

        spark = ctx.spark
        exp = self.expected[phase]
        bad: dict[str, str] = {}
        if ops.get("landed") != exp["landed_files"]:
            bad["extract"] = f"landed {ops.get('landed')} files, expected {exp['landed_files']}"
        built = [t for t in lz.COUNTED if ops.get(t, {}).get("ok", False)]
        got, per_season = _row_counts(spark, built)
        for t in built:
            n = got[t]
            want, added = exp["counts"][t], exp["appended"].get(t)  # views are not appended to
            if n != want or added is not None and n - counts[t] != added:
                bad[t] = f"{n} rows, expected {want}" + (
                    "" if added is None else f" ({n - counts[t]} appended, expected {added})")
            counts[t] = n
        if "team_statistics" in built and "team_statistics" not in bad:
            if per_season != exp["team_statistics_per_season"]:
                bad["team_statistics"] = f"rows per season {per_season}"
        for name, cols, rows in (
            ("seasonal_metrics_agg", lz.GAME_COLS + lz.STAT_COLS, exp["mart"]),
            ("seasonal_team_rollup",
             ["season_year", "team", "games_played", "goals_for", "goals_against", "wins", "home_wins"],
             exp["rollup"]),
        ):
            if not ops.get(name, {}).get("ok"):
                continue
            got = spark.table(name)
            want = check_oracle.frame_signature(cols, list(rows))
            have = check_oracle.frame_signature(got.columns, [tuple(r) for r in got.select(*[F.col(c) for c in got.columns]).collect()])
            if have != want:
                bad[name] = f"{have[0]} rows {have[2][:12]}, expected {want[0]} rows {want[2][:12]}"
        release_cached(spark)
        leaked = len(spark.sparkContext._jsc.getPersistentRDDs())
        ctx.note("session.persisted_rdds", leaked)
        if leaked:
            bad["seasonal_team_rollup"] = f"{leaked} persistent RDDs left after release_cached"
        for name, why in bad.items():
            ctx.log(f"{phase}/{name}: {why}")
            if name in ops:
                ops[name]["ok"] = False


def _row_counts(spark, tables: list[str]) -> tuple[dict[str, int], dict[int, int]]:
    """Row counts of ``tables``, and of ``team_statistics`` per season,
    read in one query rather than one job per table."""
    counts, per_season = dict.fromkeys(tables, 0), {}
    if not tables:
        return counts, per_season
    parts = [
        f"SELECT '{t}' AS t, {'source_file' if t == 'team_statistics' else 'CAST(NULL AS STRING)'} AS f FROM {t}"
        for t in tables
    ]
    for r in spark.sql(" UNION ALL ".join(parts)).groupBy("t", "f").count().collect():
        counts[r.t] += r["count"]
        if r.t == "team_statistics":
            y = int(re.search(r"nhl_(\d+)_", r.f).group(1))
            per_season[y] = per_season.get(y, 0) + r["count"]
    return counts, per_season


def _traced_gate(tracer, check):
    def gate(df):
        with tracer.span("gate", "plans.gate_s", "plans.gate_jobs"):
            return check(df)

    return gate


def _trace_writes(tracer, db_dir: str):
    """Wrap the ``write`` module's materializations so each call is timed
    under the op's ``write`` job group and the data files it adds to the
    table directory are counted. Returns a function that unwraps them."""
    from nhl_data_warehouse_spark import write

    def files(table: str) -> dict[str, int]:
        root = os.path.join(db_dir, table)
        out = {}
        for d, _, names in os.walk(root):
            for n in names:
                if not n.startswith((".", "_")):
                    p = os.path.join(d, n)
                    out[p] = os.path.getsize(p)
        return out

    def wrap(fn, table_arg: int):
        def traced(*args, **kwargs):
            table = args[table_arg] if len(args) > table_arg else kwargs.get("table", kwargs.get("name"))
            before = files(table)
            with tracer.span("write", "write.materialize_s"):
                out = fn(*args, **kwargs)
            new = {p: b for p, b in files(table).items() if p not in before}
            tracer.add("write.files_written", len(new))
            tracer.add("write.bytes_written_mb", sum(new.values()) / 2**20)
            return out

        return traced

    originals = {n: getattr(write, n) for n in ("incremental_insert", "overwrite_table", "as_view")}
    write.incremental_insert = wrap(originals["incremental_insert"], 2)
    write.overwrite_table = wrap(originals["overwrite_table"], 1)
    write.as_view = wrap(originals["as_view"], 1)

    def restore():
        for n, fn in originals.items():
            setattr(write, n, fn)

    return restore
