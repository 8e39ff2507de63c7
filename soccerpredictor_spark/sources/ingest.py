"""Ingest adapters: scraped row batches -> validated, typed DataFrames.

The reference's Selenium spiders (Spider/GameSpider.py:47-185) parse
page text in Python loops and upsert row-by-row. The engine contract
starts at "rows in" (SURVEY.md §2.1 S5-S8): the scraper stays an
out-of-engine adapter yielding raw row batches; everything after that
— arity validation (P7), token split (E5), regex extraction (E6),
schema conformance — is testable column logic here, executed
distributed, followed by the batch upsert sink (sources/upsert.py).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soccerpredictor_spark.schemas import soccer_table

#: regex the reference uses to pull the match id out of an analysis
#: URL (Spider/GameSpider.py:95-97).
MATCH_ID_PATTERN = r".*analysis/(\d+)"

#: decimal-odds pattern (Spider/GameSpider.py:134).
DECIMAL_ODDS_PATTERN = r"\d+\.\d+"


def rows_to_df(spark: SparkSession, table: str, rows: Iterable[Sequence[str]]) -> DataFrame:
    """Raw row batch -> DataFrame with the table's declared schema.

    Arity validation mirrors the reference's keep-only-N-field checks
    (Spider/GameSpider.py:88,182): short/long rows are dropped, not
    padded or truncated. Raises ``UnknownTableError`` for a table
    outside the whitelist.
    """
    schema, _pk = soccer_table(table)
    n = len(schema)
    good = [list(r) for r in rows if len(r) == n]
    return spark.createDataFrame(good, schema=schema)


def extract_match_id(col: str | F.Column) -> F.Column:
    """Match-id extraction from an analysis-page URL (E6).

    regexp_extract returns '' when unmatched (the reference skips such
    rows); callers filter on non-empty.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, MATCH_ID_PATTERN, 1)


def parse_record_line(col: str | F.Column, n_tokens: int = 17) -> F.Column:
    """Fixed-arity token split of a scraped record line (E5+P7):
    returns the token array, or NULL if the arity is wrong — the
    column-logic twin of the reference's ``len(tokens) == 17`` filter
    (Spider/GameSpider.py:88)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    return F.when(F.size(toks) == n_tokens, toks)


def extract_odds_triple(col: str | F.Column) -> F.Column:
    """First three decimal-odds tokens from scraped odds text (E6:
    re.findall(r'\\d+\\.\\d+')[0:3], Spider/GameSpider.py:134)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.slice(F.regexp_extract_all(c, F.lit(DECIMAL_ODDS_PATTERN), 0), 1, 3)
