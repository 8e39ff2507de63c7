"""Seeded generator for the reference's soccer tables (team_list,
game_record, game_odds, game_overunder), all-string as the schema
declares.

Bookmaker coverage is skewed: the first ten books quote almost every
game and the other twenty quote a shrinking share, so the top-10 set
(the pivot's column list) is the same for every seed and a model
trained on one seed's tables serves any other seed's.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from soccerpredictor_spark.schemas import SOCCER_TABLES

N_TEAMS = 40
TEAMS = [(str(i), f"Team {i:02d}") for i in range(1, N_TEAMS + 1)]
COMPANIES = [f"Book{i:02d}" for i in range(30)]
COVERAGE = np.array([0.995 - 0.005 * i for i in range(10)]
                    + [0.3 * 0.8 ** j for j in range(20)])
TOP10 = COMPANIES[:10]
ID_BASE = 1_400_000
ID_STEP = 15

_CENTS = np.array([f"{v / 100:.2f}" for v in range(1000)], dtype=object)
_ASIA = np.array(["0.5", "0.5/1", "-0.25", "0/0.5", "1", "0.75"], dtype=object)
_OU_LINES = np.array(["2.5", "2.5/3", "2/2.5", "3"], dtype=object)


def columns(table: str) -> list[str]:
    return [f.name for f in SOCCER_TABLES[table][0].fields]


def game_id(g: np.ndarray | int):
    return ID_BASE + np.asarray(g) * ID_STEP


def team_list() -> pd.DataFrame:
    return pd.DataFrame([list(t) for t in TEAMS], columns=columns("team_list"))


def games(rng: np.random.Generator, first: int, n: int) -> pd.DataFrame:
    """``n`` games with sequential ids starting at game number ``first``."""
    host = rng.integers(0, N_TEAMS, n)
    guest = (host + rng.integers(1, N_TEAMS, n)) % N_TEAMS
    hs, gs = rng.integers(0, 5, n), rng.integers(0, 4, n)
    wdl = np.where(hs > gs, "Win", np.where(hs == gs, "Draw", "Loss")).astype(object)
    wdl[rng.random(n) < 0.02] = "Unknown"
    ou = np.where(hs + gs > 2, "Over", "Under").astype(object)
    ou[rng.random(n) < 0.02] = None
    names = np.array([name for _, name in TEAMS], dtype=object)
    month, day = rng.integers(1, 13, n), rng.integers(1, 29, n)
    return pd.DataFrame({
        "id": game_id(np.arange(first, first + n)).astype(str),
        "league": "EPL",
        "game_date": [f"2019-{m:02d}-{d:02d}" for m, d in zip(month, day)],
        "game_time": [f"{h}:00" for h in rng.integers(12, 22, n)],
        "host_team": names[host],
        "full_score": [f"{a}-{b}" for a, b in zip(hs, gs)],
        "guest_team": names[guest],
        "half_score": [f"{a}-{b}" for a, b in zip(rng.integers(0, 3, n), rng.integers(0, 3, n))],
        "asia_odds": _ASIA[rng.integers(0, len(_ASIA), n)],
        "total_overunder": ou,
        "win_draw_lose": wdl,
    })[columns("game_record")]


def _quotes(rng: np.random.Generator, ids: np.ndarray):
    """(game index, company index) pairs a book quotes, by coverage."""
    hit = rng.random((len(ids), len(COMPANIES))) < COVERAGE[None, :]
    gi, ci = np.nonzero(hit)
    return ids[gi], np.array(COMPANIES, dtype=object)[ci]


def odds(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    gid, comp = _quotes(rng, ids)
    m = len(gid)
    vals = {c: _CENTS[rng.integers(120, 600, m)] for c in columns("game_odds")[2:]}
    return pd.DataFrame({"id": gid, "odds_company": comp, **vals})[columns("game_odds")]


def overunder(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    gid, comp = _quotes(rng, ids)
    m = len(gid)
    line = _OU_LINES[rng.integers(0, len(_OU_LINES), m)]
    return pd.DataFrame({
        "id": gid, "odds_company": comp,
        "initial_over": _CENTS[rng.integers(80, 111, m)], "initial_line": line,
        "initial_under": _CENTS[rng.integers(80, 111, m)],
        "final_over": _CENTS[rng.integers(80, 111, m)], "final_line": line,
        "final_under": _CENTS[rng.integers(80, 111, m)],
    })[columns("game_overunder")]


def tables(seed: int, n_games: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    record = games(rng, 0, n_games)
    ids = record["id"].to_numpy()
    return {
        "team_list": team_list(),
        "game_record": record,
        "game_odds": odds(rng, ids),
        "game_overunder": overunder(rng, ids),
    }
