"""Scrape rounds and the pure-Python table model they are checked against.

A round is what one scrape of new games yields: row batches (lists of
strings, the scraper's shape) for ``game_record``, ``game_odds`` and
``game_overunder``. After the first round, a quarter as many recent
games as new ones are scraped again (their rows replace existing keys,
about 20% of a round's rows). Every batch carries two rows of the wrong
arity, which ingest must drop.
"""

from __future__ import annotations

import numpy as np

from soccer import TEAMS, TOP10, games, odds, overunder
from soccerpredictor_spark.schemas import SOCCER_TABLES

TABLES = ("game_record", "game_odds", "game_overunder")
RESCRAPE_SHARE = 0.25
RECENT = 500


def rows(pdf) -> list[list]:
    return [list(r) for r in pdf.itertuples(index=False)]


def scrape_round(rng, first_game: int, n_games: int, recent_ids: np.ndarray) -> dict[str, list]:
    new = games(rng, first_game, n_games)
    n_again = int(n_games * RESCRAPE_SHARE) if len(recent_ids) else 0
    again = games(rng, 0, n_again)
    if n_again:
        again["id"] = rng.choice(recent_ids[-RECENT:], n_again, replace=False)
    ids = np.concatenate([new["id"].to_numpy(), again["id"].to_numpy()])
    batch = {
        "game_record": rows(new) + rows(again),
        "game_odds": rows(odds(rng, ids)),
        "game_overunder": rows(overunder(rng, ids)),
    }
    for batch_rows in batch.values():
        batch_rows.append(batch_rows[0][:-1])
        batch_rows.append(batch_rows[1] + ["x"])
    return batch


class Model:
    """Latest-wins-per-primary-key state of every table."""

    def __init__(self):
        self.rows: dict[str, dict] = {t: {} for t in SOCCER_TABLES}

    def apply(self, table: str, batch_rows) -> list[tuple]:
        """Apply a batch; returns the rows of the right arity."""
        schema, pk = SOCCER_TABLES[table]
        names = [f.name for f in schema.fields]
        idx = [names.index(k) for k in pk]
        good = [tuple(r) for r in batch_rows if len(r) == len(names)]
        for r in good:
            self.rows[table][tuple(r[i] for i in idx)] = r
        return good

    def top10(self) -> list[str]:
        counts: dict[str, int] = {}
        for _id, comp in self.rows["game_odds"]:
            counts[comp] = counts.get(comp, 0) + 1
        return [c for c, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]

    def predict_ids(self, team_id: str, hg: int, min_id: int) -> set[str]:
        """Ids a prediction for (team, venue) must return: the team's
        games at that venue above ``min_id`` with at least one top-10
        odds row."""
        name = dict(TEAMS)[team_id]
        col = 4 if hg == 0 else 6  # host_team / guest_team
        quoted = {gid for gid, comp in self.rows["game_odds"] if comp in TOP10}
        return {gid for (gid,), r in self.rows["game_record"].items()
                if r[col] == name and int(gid) > min_id and gid in quoted}
