"""Schema registry for the engine's canonical tables.

Two families:

1. Soccer-domain tables — the reference's five Kudu tables
   (reference: SQL/DDL_SQL:1-56). Every column is StringType at the
   storage layer, exactly as the reference declares; numeric
   interpretation is cast-on-read (reference: XGBoost/Predictor.py:129,
   DAO/ImpalaCon.py:95-99). Canonical names come from the DDL; the
   reference code's drifted names (host_t, guest_t, odd_comp, flat —
   see SURVEY.md §1.2) are registered as aliases of the same columns.

2. Benchmark/extension tables — the driver's TPC-H-ish star schema
   plus events/documents/embeddings (TESTDATA.md / FIXTURES.md §B),
   read schema-on-file from parquet.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _string_table(*cols: str) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in cols])


# --- Soccer-domain tables (reference: SQL/DDL_SQL:1-56) -------------------

TEAM_LIST = _string_table("team_id", "name")

GAME_RECORD = _string_table(
    "id",
    "league",
    "game_date",
    "game_time",
    "host_team",
    "full_score",
    "guest_team",
    "half_score",
    "asia_odds",
    "total_overunder",
    "win_draw_lose",
)

GAME_RECORD_URL = _string_table(
    "id",
    "host_homepage",
    "game_record_page",
    "guest_homepage",
    "analysis_page",
    "asia_odds_page",
    "euro_odds_page",
    "overunder_odds_page",
)

GAME_ODDS = _string_table(
    "id",
    "odds_company",
    "final_win",
    "final_draw",
    "final_lose",
    "initial_win",
    "initial_draw",
    "initial_lose",
)

GAME_OVERUNDER = _string_table(
    "id",
    "odds_company",
    "initial_over",
    "initial_line",
    "initial_under",
    "final_over",
    "final_line",
    "final_under",
)

#: canonical table name -> (schema, primary key columns)
#: PKs become upsert-dedup keys, not enforced indexes (SURVEY.md §1.4).
SOCCER_TABLES: dict[str, tuple[T.StructType, tuple[str, ...]]] = {
    "team_list": (TEAM_LIST, ("team_id",)),
    "game_record": (GAME_RECORD, ("id",)),
    "game_record_url": (GAME_RECORD_URL, ("id",)),
    "game_odds": (GAME_ODDS, ("id", "odds_company")),
    "game_overunder": (GAME_OVERUNDER, ("id", "odds_company")),
}


class UnknownTableError(ValueError):
    """Raised for a table name outside the soccer-table whitelist
    (reference: Spider/GameSpider.py:190-193 name check)."""


def soccer_table(name: str) -> tuple[T.StructType, tuple[str, ...]]:
    """The one whitelist lookup behind ingest and upsert: a soccer
    table's (schema, primary key columns)."""
    if name not in SOCCER_TABLES:
        raise UnknownTableError(f"unknown table {name!r}; known: {sorted(SOCCER_TABLES)}")
    return SOCCER_TABLES[name]


#: reference-code column aliases -> canonical DDL names (SURVEY.md §1.2).
COLUMN_ALIASES: dict[str, str] = {
    "host_t": "host_team",
    "guest_t": "guest_team",
    "odd_comp": "odds_company",
    "flat": "win_draw_lose",
}

#: columns holding Asian-handicap "a/b" fraction lines; the scan-time
#: fraction cleaner is scoped to exactly these (deliberate divergence
#: from the reference's cell-wise cleaner, DAO/ImpalaCon.py:92-101,
#: which would corrupt URL/date strings — SURVEY.md §2.11).
LINE_COLUMNS: dict[str, tuple[str, ...]] = {
    "game_record": ("asia_odds",),
    "game_overunder": ("initial_line", "final_line"),
}

#: decimal-odds columns, castable straight to double.
ODDS_COLUMNS: dict[str, tuple[str, ...]] = {
    "game_odds": (
        "final_win",
        "final_draw",
        "final_lose",
        "initial_win",
        "initial_draw",
        "initial_lose",
    ),
    "game_overunder": ("initial_over", "initial_under", "final_over", "final_under"),
}

# --- Benchmark / extension tables (TESTDATA.md) ---------------------------

BENCH_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canonical_column(name: str) -> str:
    """Resolve a reference-code column alias to its canonical DDL name."""
    return COLUMN_ALIASES.get(name, name)
