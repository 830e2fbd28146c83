"""Seeded NHL landing zone for the ``warehouse_refresh`` workload.

``build_landing(seed)`` makes the source documents the extractors
fetch: per season a games page and a standings page (HTML, attendance
with thousands separators, division-header rows in the standings
table) plus the API documents (teams, seasons, regular-season and
playoff schedules, and one schedule payload without ``games``).

``expected_results`` computes what the warehouse must hold after each
phase in plain Python from the generator's own records, never from
the program's output: raw row counts, ``team_statistics`` rows per
season, the ``seasonal_metrics_agg`` rows (visitor join UNION home
join on team name, distinct), the per-(season, team) rollup, and the
rows each incremental model appends.
"""

from __future__ import annotations

import csv
import html
import io
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

# (market, name, alias) — a 32-team league in four divisions of eight
TEAMS = [
    ("Boston", "Bruins", "BOS"), ("Buffalo", "Sabres", "BUF"),
    ("Detroit", "Red Wings", "DET"), ("Florida", "Panthers", "FLA"),
    ("Montreal", "Canadiens", "MTL"), ("Ottawa", "Senators", "OTT"),
    ("Tampa Bay", "Lightning", "TBL"), ("Toronto", "Maple Leafs", "TOR"),
    ("Carolina", "Hurricanes", "CAR"), ("Columbus", "Blue Jackets", "CBJ"),
    ("New Jersey", "Devils", "NJD"), ("New York", "Islanders", "NYI"),
    ("New York", "Rangers", "NYR"), ("Philadelphia", "Flyers", "PHI"),
    ("Pittsburgh", "Penguins", "PIT"), ("Washington", "Capitals", "WSH"),
    ("Chicago", "Blackhawks", "CHI"), ("Colorado", "Avalanche", "COL"),
    ("Dallas", "Stars", "DAL"), ("Minnesota", "Wild", "MIN"),
    ("Nashville", "Predators", "NSH"), ("St. Louis", "Blues", "STL"),
    ("Utah", "Hockey Club", "UTA"), ("Winnipeg", "Jets", "WPG"),
    ("Anaheim", "Ducks", "ANA"), ("Calgary", "Flames", "CGY"),
    ("Edmonton", "Oilers", "EDM"), ("Los Angeles", "Kings", "LAK"),
    ("San Jose", "Sharks", "SJS"), ("Seattle", "Kraken", "SEA"),
    ("Vancouver", "Canucks", "VAN"), ("Vegas", "Golden Knights", "VGK"),
]
DIVISIONS = ["Atlantic Division", "Metropolitan Division", "Central Division", "Pacific Division"]
LEAGUE = {"id": "fd560107", "alias": "NHL", "name": "National Hockey League"}
GAME_TIMES = ["19:00", "19:30", "20:00", "17:00", "22:00", "13:00"]

# full load: FIRST_YEAR .. FIRST_YEAR + FULL_SEASONS - 1; the incremental
# batch adds the next season and re-lands the last full-load season.
FIRST_YEAR = 2021
FULL_SEASONS = 3
# Each raw game joins every season's stats row for both of its teams,
# so the mart holds about games x seasons x 2 rows: 4 seasons of 160
# games make ~5k mart rows after the batch.
GAMES_PER_SEASON = 160
PLAYOFF_GAMES = 8
UNPLAYED_GAMES = 3  # season-end games with no score (NULL goals)

STAT_COLS = [
    "gp", "overall_wins", "overall_losses", "overtime_losses", "total_points",
    "points_percentage", "goals_for", "goals_against", "hockey_reference_srs",
    "strength_of_schedule", "points_percentage_in_regulation",
    "wins_in_regulation", "regulation_record",
]
GAME_COLS = [
    "game_date", "game_time", "visitor", "visitor_goals", "home", "home_goals",
    "guests_in_attendance", "length_of_game",
]
RAW_TABLES = [
    "raw_regular_season", "raw_team_stats", "raw_api_teams", "raw_api_seasons",
    "raw_reg_schedules", "raw_playoff_schedules",
]
# the raw loads are incremental models; the staging models are views
COUNTED = RAW_TABLES + ["team_statistics", "teams"]


def team_name(t: tuple[str, str, str]) -> str:
    return f"{t[0]} {t[1]}"


@dataclass
class Game:
    day: date
    time: str
    visitor: str
    visitor_goals: int | None
    home: str
    home_goals: int | None
    ot_so: str
    attendance: int | None
    length: str


@dataclass
class Season:
    year: int
    games: list[Game]
    # per division: (division name, [team name + 13 stat strings])
    standings: list[tuple[str, list[list[str]]]]
    playoffs: list[dict]


@dataclass
class Landing:
    seasons: dict[int, Season]
    teams_doc: dict
    # phase name -> what that phase extracts
    phases: dict[str, dict] = field(default_factory=dict)


def _season(rng: random.Random, year: int) -> Season:
    start = date(year - 1, 10, 5)
    names = [team_name(t) for t in TEAMS]
    games: list[Game] = []
    seen = set()
    while len(games) < GAMES_PER_SEASON:
        v, h = rng.sample(names, 2)
        played = len(games) < GAMES_PER_SEASON - UNPLAYED_GAMES
        day = start + timedelta(days=rng.randrange(180) if played else 200)
        tm = rng.choice(GAME_TIMES)
        if (day, tm, v, h) in seen:
            continue
        seen.add((day, tm, v, h))
        if played:
            vg, hg = rng.randrange(7), rng.randrange(7)
            if vg == hg:
                hg += 1
            extra = rng.choice(["", "", "", "OT", "SO"])
            games.append(
                Game(day, tm, v, vg, h, hg, extra, rng.randrange(9_000, 21_000),
                     f"{2 + rng.randrange(2)}:{rng.randrange(60):02d}")
            )
        else:
            # scheduled, not yet played: empty score/attendance cells
            games.append(Game(day, tm, v, None, h, None, "", None, ""))
    standings = []
    for d, div in enumerate(DIVISIONS):
        rows = []
        for t in TEAMS[d * 8:(d + 1) * 8]:
            gp = 82
            w = rng.randrange(25, 57)
            otl = rng.randrange(3, 13)
            lo = gp - w - otl
            pts = 2 * w + otl
            rw = w - rng.randrange(0, 8)
            rows.append([
                team_name(t), str(gp), str(w), str(lo), str(otl), str(pts),
                f"{pts / (2 * gp):.3f}".lstrip("0"), str(rng.randrange(190, 300)),
                str(rng.randrange(190, 300)), f"{rng.uniform(-1.2, 1.2):.2f}",
                f"{rng.uniform(-0.2, 0.2):.2f}", f"{rw / gp:.3f}".lstrip("0"),
                str(rw), f"{rw}-{lo}-{gp - rw - lo}",
            ])
        standings.append((div, rows))
    playoffs = []
    for i in range(PLAYOFF_GAMES):
        a, b = rng.sample(TEAMS, 2)
        playoffs.append({
            "id": f"g-{year}-PST-{i:03d}",
            "status": "closed",
            "scheduled": f"{year}-04-{20 + i % 10:02d}T23:00:00Z",
            "home": {"id": f"t-{a[2].lower()}", "name": a[1], "alias": a[2]},
            "away": {"id": f"t-{b[2].lower()}", "name": b[1], "alias": b[2]},
            "home_points": rng.randrange(6),
            "away_points": rng.randrange(6),
            "venue": {"name": f"{a[0]} Arena", "city": a[0]},
        })
    return Season(year, games, standings, playoffs)


def build_landing(seed: int) -> Landing:
    """The whole source side of the workload, deterministic in ``seed``."""
    rng = random.Random(seed)
    years = list(range(FIRST_YEAR, FIRST_YEAR + FULL_SEASONS + 1))
    seasons = {y: _season(rng, y) for y in years}
    teams_doc = {
        "league": LEAGUE,
        "teams": [
            {"id": f"t-{a.lower()}", "name": n, "market": m, "alias": a,
             "sr_id": f"sr:team:{3600 + i}", "reference": str(i + 1)}
            for i, (m, n, a) in enumerate(TEAMS)
        ],
    }
    landing = Landing(seasons, teams_doc)
    full, new = years[:-1], years[-1]
    landing.phases = {
        "full_load": {"scrape": full, "schedules": full, "seasons_tag": str(full[-1]), "empty_schedule": True},
        # one new season, plus the last full-load season and the teams
        # document landed again unchanged (same file name and bytes)
        "incremental": {"scrape": [full[-1], new], "schedules": [new], "seasons_tag": str(new), "empty_schedule": False},
    }
    landing.phases["replay"] = dict(landing.phases["incremental"])
    return landing


# ---------------------------------------------------------------------------
# source documents the injected fetchers serve
# ---------------------------------------------------------------------------


def _table(header: list[str], rows: list[list[str]]) -> str:
    out = ["<html><body><p>NHL</p><table><thead><tr>"]
    out += [f"<th>{html.escape(h)}</th>" for h in header]
    out.append("</tr></thead><tbody>")
    for r in rows:
        out.append("<tr>" + "".join(f"<td>{html.escape(c)}</td>" for c in r) + "</tr>")
    out.append("</tbody></table><table><tr><td>second table</td></tr></table></body></html>")
    return "".join(out)


def games_page(season: Season) -> str:
    rows = [
        [
            g.day.isoformat(), g.time, g.visitor,
            "" if g.visitor_goals is None else str(g.visitor_goals),
            g.home, "" if g.home_goals is None else str(g.home_goals), g.ot_so,
            "" if g.attendance is None else f"{g.attendance:,}", g.length,
        ]
        for g in season.games
    ]
    return _table(["Date", "Time", "Visitor", "G", "Home", "G", "", "Att.", "LOG"], rows)


def standings_page(season: Season) -> str:
    rows: list[list[str]] = []
    for div, teams in season.standings:
        rows.append([div] * 14)  # read_html's rendering of a colspan header row
        rows.extend(teams)
    return _table(["Team"] + STAT_COLS, rows)


def seasons_doc(landing: Landing, upto: int) -> dict:
    return {
        "league": LEAGUE,
        "seasons": [
            {"id": f"s-{y}-{code}", "year": y, "type": {"code": code}, "status": "closed"}
            for y in sorted(landing.seasons) if y <= upto for code in ("REG", "PST")
        ],
    }


def schedule_doc(season: Season, season_type: str, with_games: bool = True) -> dict:
    doc = {
        "league": LEAGUE,
        "season": {"id": f"s-{season.year}-{season_type}", "year": season.year, "type": season_type},
    }
    if not with_games:
        return doc
    if season_type == "PST":
        doc["games"] = season.playoffs
        return doc
    by_name = {team_name(t): t for t in TEAMS}
    doc["games"] = [
        {
            "id": f"g-{season.year}-REG-{i:04d}",
            "status": "closed" if g.home_goals is not None else "scheduled",
            "scheduled": f"{g.day.isoformat()}T{g.time}:00Z",
            "home": {"id": f"t-{by_name[g.home][2].lower()}", "name": by_name[g.home][1], "alias": by_name[g.home][2]},
            "away": {"id": f"t-{by_name[g.visitor][2].lower()}", "name": by_name[g.visitor][1], "alias": by_name[g.visitor][2]},
            "home_points": g.home_goals,
            "away_points": g.visitor_goals,
            "venue": {"name": f"{by_name[g.home][0]} Arena", "city": by_name[g.home][0]},
        }
        for i, g in enumerate(season.games)
    ]
    return doc


# ---------------------------------------------------------------------------
# expected warehouse state, computed without the program
# ---------------------------------------------------------------------------


def _int(v: str) -> int | None:
    v = v.replace('"', "").strip()
    try:
        return int(v)
    except ValueError:
        return None


def records_from_csv(games_csv: str, standings_csv: str) -> tuple[list[tuple], list[list[str]]]:
    """Games and standings records from landed CSV text, with the load's
    documented cleaning: quotes and padding stripped, permissive integer
    casts, the OT/SO column dropped, division-header rows removed."""
    games = []
    for r in list(csv.reader(io.StringIO(games_csv)))[1:]:
        r = [c.replace('"', "").strip() for c in r] + [""] * (9 - len(r))
        try:
            day = date.fromisoformat(r[0])
        except ValueError:
            day = None
        games.append((day, r[1], r[2], _int(r[3]), r[4], _int(r[5]), _int(r[7]), r[8]))
    stats = [
        r for r in list(csv.reader(io.StringIO(standings_csv)))[1:]
        if len(r) == 14 and all(c and "DIVISION" not in c.upper() for c in r)
    ]
    return games, stats


def season_records(season: Season) -> tuple[list[tuple], list[list[str]]]:
    games = [
        (g.day, g.time, g.visitor, g.visitor_goals, g.home, g.home_goals, g.attendance, g.length)
        for g in season.games
    ]
    stats = [row for _, rows in season.standings for row in rows]
    return games, stats


def mart_rows(games: list[tuple], stats: list[list[str]]) -> set[tuple]:
    """``seasonal_metrics_agg``: each game joined to every stats row of
    its visitor, UNION each game joined to every stats row of its home
    team, distinct. Columns in ``GAME_COLS + STAT_COLS`` order; the
    length-of-game cell is NULL when empty (Spark reads an empty CSV
    cell as NULL)."""
    by_team: dict[str, list[list[str]]] = {}
    for s in stats:
        by_team.setdefault(s[0], []).append(s)
    out = set()
    for g in games:
        g = g[:7] + (g[7] or None,)
        for team in (g[2], g[4]):
            for s in by_team.get(team, []):
                out.add(g + tuple(s[1:]))
    return out


def rollup_rows(games: list[tuple]) -> set[tuple]:
    """``seasonal_team_rollup`` rows (season_year, team, games_played,
    goals_for, goals_against, wins, home_wins); SQL SUM semantics, so a
    sum over only NULLs is NULL."""
    acc: dict[tuple, list] = {}

    def add(a, b):
        return b if a is None else (a if b is None else a + b)

    for day, _, v, vg, h, hg, _, _ in games:
        for team, gf, ga, home in ((h, hg, vg, 1), (v, vg, hg, 0)):
            win = None if gf is None or ga is None else int(gf > ga)
            r = acc.setdefault((day.year, team), [0, None, None, None, None])
            r[0] += 1
            r[1], r[2], r[3] = add(r[1], gf), add(r[2], ga), add(r[3], win)
            if home:
                r[4] = add(r[4], win)
    return {k + tuple(v) for k, v in acc.items()}


def expected_results(landing: Landing) -> dict[str, dict]:
    """Expected warehouse state after each phase, keyed by phase name.

    Each phase maps to ``counts`` (table or view -> total rows),
    ``appended`` (raw table -> rows that phase appends),
    ``team_statistics_per_season``,
    ``mart`` and ``rollup`` (row sets) and ``landed_files``.
    """
    out: dict[str, dict] = {}
    games_files: dict[int, int] = {}
    seen_docs: set[str] = set()
    counts = {t: 0 for t in COUNTED}
    loaded: list[int] = []
    for phase, spec in landing.phases.items():
        before = dict(counts)
        landed = 0
        for y in spec["scrape"]:
            landed += 2
            if y in games_files:
                continue  # same file name and bytes: every key already loaded
            games_files[y] = 1
            loaded.append(y)
            g, s = season_records(landing.seasons[y])
            counts["raw_regular_season"] += len(g)
            counts["raw_team_stats"] += len(s) + len(DIVISIONS)
            counts["team_statistics"] += len(s)
        docs = [("teams", "teams")] + [("seasons", f"seasons_{spec['seasons_tag']}")]
        docs += [("reg", f"reg_{y}") for y in spec["schedules"]]
        docs += [("pst", f"pst_{y}") for y in spec["schedules"]]
        for kind, doc_id in docs:
            landed += 1
            if doc_id in seen_docs:
                continue
            seen_docs.add(doc_id)
            table = {"teams": "raw_api_teams", "seasons": "raw_api_seasons",
                     "reg": "raw_reg_schedules", "pst": "raw_playoff_schedules"}[kind]
            counts[table] += 1
            if kind == "teams":
                counts["teams"] += len(TEAMS)
        games = [g for y in loaded for g in season_records(landing.seasons[y])[0]]
        stats = [s for y in loaded for s in season_records(landing.seasons[y])[1]]
        out[phase] = {
            "counts": dict(counts),
            "appended": {t: counts[t] - before[t] for t in RAW_TABLES},
            "team_statistics_per_season": {
                y: len(season_records(landing.seasons[y])[1]) for y in loaded
            },
            "mart": mart_rows(games, stats),
            "rollup": rollup_rows(games),
            "landed_files": landed,
        }
    return out
