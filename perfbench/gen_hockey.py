"""Seeded reference-shaped hockey inputs (FIXTURES.md A1-A4).

Writes ``results.csv`` (two rows per game, one per side), ``events.csv``
(event rows per team-game) and ``team_map.json`` with the reference's
quirks: the ``Game Id`` header, ``M/d/yyyy`` dates, ``\\N`` and empty
string nulls, and several raw spellings per team (multi-space, dotted,
accented) that the map sends to one code, plus one team that is absent
from the map and so takes the strip-non-letters fallback.

Outcomes are drawn independently of the teams, so a leakage-free model
scores near chance; a pipeline that leaked the label would not.
"""

from __future__ import annotations

import csv
import datetime
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

NULL = r"\N"

# Canonical-name stems; every team gets a distinct three-letter code and
# distinct letters, so no two raw names can collapse to one code.
_STEMS = [
    "Alder", "Birch", "Cedar", "Delta", "Ember", "Fjord", "Glade", "Heron",
    "Inlet", "Jasper", "Kestrel", "Lumen", "Marsh", "Nimbus", "Onyx", "Pine",
    "Quarry", "Raven", "Sable", "Tundra", "Umber", "Vale", "Willow", "Xylem",
    "Yarrow", "Zephyr", "Arbor", "Bluff", "Crest", "Dune",
]

RESULTS_HEADER = [
    "Game Id", "Season", "Date", "Type", "Ev_Team", "Is_Home", "Goal", "Win",
    "Points", "xG", "Favorite",
]
EVENTS_HEADER = [
    "GameID", "Season", "SeasonState", "Venue", "Period", "Event", "EventTeam",
    "Corsi", "Fenwick", "Shot", "Goal", "ShotDistance", "ShotAngle", "xG_F",
    "xG_S",
]
_EVENT_KINDS = ["shot-on-goal", "missed-shot", "blocked-shot", "faceoff", "hit", "goal"]


@dataclass(frozen=True)
class Shape:
    seasons: int
    teams: int
    games_per_team: int
    events_per_team_game: int

    @property
    def key(self) -> str:
        return (
            f"s{self.seasons}_t{self.teams}_g{self.games_per_team}"
            f"_e{self.events_per_team_game}"
        )


def _teams(n: int) -> list[dict]:
    if not 2 <= n <= len(_STEMS) or n % 2:
        raise ValueError(f"teams must be even and in 2..{len(_STEMS)}, got {n}")
    teams = []
    for stem in _STEMS[:n]:
        code = stem[:3].upper()
        teams.append(
            {
                "code": code,
                # results spelling, events spelling: both in the map
                "variants": [f"{stem}  City", f"{stem[0]}. {stem}"],
            }
        )
    # accented spelling on one team, as in "Montreal"/"Montréal"
    teams[0]["variants"][1] = teams[0]["variants"][1].replace("e", "é")
    # the last team is unmapped: both spellings strip to the same letters
    last = teams[-1]
    last["variants"] = [f"Old  {_STEMS[n - 1]} H.C.", f"Old {_STEMS[n - 1]} HC"]
    last["code"] = f"OLD{_STEMS[n - 1].upper()}HC"
    return teams


def team_map(teams: list[dict]) -> dict[str, str]:
    """Map keys are whitespace-normalized, as the pipeline looks them up."""
    return {_norm(v): t["code"] for t in teams[:-1] for v in t["variants"]}


def _schedule(rng: random.Random, n_teams: int, games_per_team: int):
    """Round-robin rounds: every team plays once per round, so each team
    plays ``games_per_team`` games, one per day."""
    idx = list(range(n_teams))
    for rnd in range(games_per_team):
        rng.shuffle(idx)
        yield rnd, [(idx[i], idx[i + 1]) for i in range(0, n_teams, 2)]


def _measure(rng: np.random.Generator, lo: float, hi: float, null_p: float, n: int) -> pa.Array:
    """A measure column that is sometimes ``\\N`` and sometimes empty."""
    r = rng.random(n)
    vals = pc.cast(pa.array(np.round(rng.uniform(lo, hi, n), 2)), pa.string())
    return pc.if_else(pa.array(r < null_p / 2), NULL, pc.if_else(pa.array(r < null_p), "", vals))


def _events(rng: np.random.Generator, sides: list[tuple[int, int, int, str]], per_side: int) -> pa.Table:
    """``per_side`` event rows for every (game id, season, is home, raw
    team name) in ``sides``."""
    n = len(sides) * per_side
    kind = rng.integers(0, len(_EVENT_KINDS), n)

    def rep(field: int) -> np.ndarray:
        return np.repeat(np.array([s[field] for s in sides]), per_side)

    def is_kind(*kinds: str) -> np.ndarray:
        return np.isin(kind, [_EVENT_KINDS.index(k) for k in kinds]).astype(np.int8)

    goal = pc.cast(pa.array(is_kind("goal")), pa.string())
    cols = {
        "GameID": rep(0),
        "Season": rep(1),
        "SeasonState": pa.array(["Regular"] * n),
        "Venue": np.where(rep(2) == 1, "Home", "Away"),
        "Period": rng.integers(1, 4, n),
        "Event": np.array(_EVENT_KINDS)[kind],
        "EventTeam": rep(3),
        "Corsi": 1 - is_kind("faceoff", "hit"),
        "Fenwick": is_kind("shot-on-goal", "missed-shot", "goal"),
        "Shot": is_kind("shot-on-goal", "goal"),
        "Goal": pc.if_else(pa.array(rng.random(n) < 0.05), NULL, goal),
        "ShotDistance": _measure(rng, 5, 60, 0.2, n),
        "ShotAngle": _measure(rng, 0, 90, 0.2, n),
        "xG_F": _measure(rng, 0, 1, 0.3, n),
        "xG_S": _measure(rng, 0, 1, 0.3, n),
    }
    assert list(cols) == EVENTS_HEADER
    return pa.table(cols)


def generate(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write the three input files into ``out_dir``; return the counts
    the pipeline must reproduce (FIXTURES.md A4)."""
    rng = random.Random(seed)
    teams = _teams(shape.teams)
    os.makedirs(out_dir, exist_ok=True)
    n_games = 0
    sides = []
    with open(os.path.join(out_dir, "results.csv"), "w", newline="") as rf:
        rw = csv.writer(rf)
        rw.writerow(RESULTS_HEADER)
        for s in range(shape.seasons):
            year = 2010 + s
            season = year * 10000 + year + 1
            start = datetime.date(year, 10, 1)
            game_no = 0
            for rnd, pairs in _schedule(rng, shape.teams, shape.games_per_team):
                day = start + datetime.timedelta(days=rnd)
                date = f"{day.month}/{day.day}/{day.year}"
                for home, away in pairs:
                    game_no += 1
                    n_games += 1
                    gid = year * 1000000 + 20000 + game_no
                    goals = (rng.randint(0, 6), rng.randint(0, 6))
                    if goals[0] == goals[1]:
                        goals = (goals[0] + rng.choice((0, 1)), goals[1])
                        goals = goals if goals[0] != goals[1] else (goals[0], goals[1] + 1)
                    for side, team in ((1, home), (0, away)):
                        g = goals[0] if side else goals[1]
                        o = goals[1] if side else goals[0]
                        win = int(g > o)
                        rw.writerow(
                            [
                                gid, season, date, "R",
                                teams[team]["variants"][0], side, g, win, 2 * win,
                                f"{rng.uniform(0.5, 4.5):.2f}",
                                "" if rng.random() < 0.3 else rng.choice(("Y", "N")),
                            ]
                        )
                        sides.append((gid, season, side, teams[team]["variants"][1]))
    events = _events(np.random.default_rng(seed), sides, shape.events_per_team_game)
    with open(os.path.join(out_dir, "events.csv"), "wb") as f:
        f.write((",".join(EVENTS_HEADER) + "\n").encode())
        pacsv.write_csv(events, f, pacsv.WriteOptions(include_header=False, quoting_style="none"))
    with open(os.path.join(out_dir, "team_map.json"), "w") as f:
        json.dump(team_map(teams), f, ensure_ascii=False, sort_keys=True)
    counts = {"games": n_games, "game_team_rows": 2 * n_games, "matchups": n_games}
    check_invariants(out_dir, counts)
    return counts


def check_invariants(out_dir: str, counts: dict) -> None:
    """FIXTURES.md A4: two results rows per game (one home, one away),
    events for both sides of every game, and distinct teams -> distinct
    codes. Raises ``ValueError`` on a violation."""
    with open(os.path.join(out_dir, "team_map.json")) as f:
        tmap = json.load(f)
    sides: dict[int, list[int]] = {}
    codes_by_game: dict[int, set[str]] = {}
    with open(os.path.join(out_dir, "results.csv"), newline="") as f:
        for row in csv.DictReader(f):
            gid = int(row["Game Id"])
            sides.setdefault(gid, []).append(int(row["Is_Home"]))
            codes_by_game.setdefault(gid, set()).add(_code(tmap, row["Ev_Team"]))
    event_sides: dict[int, set[str]] = {}
    pairs = pacsv.read_csv(
        os.path.join(out_dir, "events.csv"),
        convert_options=pacsv.ConvertOptions(include_columns=["GameID", "EventTeam"]),
    ).group_by(["GameID", "EventTeam"]).aggregate([])
    for gid, raw in zip(pairs["GameID"].to_pylist(), pairs["EventTeam"].to_pylist()):
        event_sides.setdefault(gid, set()).add(_code(tmap, raw))
    if len(sides) != counts["games"]:
        raise ValueError(f"{len(sides)} games in results, expected {counts['games']}")
    for gid, s in sides.items():
        if sorted(s) != [0, 1]:
            raise ValueError(f"game {gid}: Is_Home values {s}, expected one of each")
        if len(codes_by_game[gid]) != 2:
            raise ValueError(f"game {gid}: both sides map to {codes_by_game[gid]}")
        if event_sides.get(gid) != codes_by_game[gid]:
            raise ValueError(f"game {gid}: event teams {event_sides.get(gid)}")


def _code(tmap: dict[str, str], raw: str) -> str:
    """The pipeline's normalization: whitespace-collapse + trim, map
    lookup, else uppercase with non-letters stripped."""
    norm = _norm(raw)
    if norm in tmap:
        return tmap[norm]
    return "".join(c for c in norm.upper() if "A" <= c <= "Z")


def _norm(raw: str) -> str:
    return " ".join(raw.split())
