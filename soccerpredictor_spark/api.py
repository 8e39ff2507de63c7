"""Facade reproducing the reference's public surface on Spark.

Maps the reference entry points 1:1 (SURVEY.md §3):

| reference                                   | here                 |
|---------------------------------------------|----------------------|
| ImpalaCon.get_game_list (DAO/ImpalaCon.py:33-62) | get_game_list   |
| Predictor.get_top10 (XGBoost/Predictor.py:210-225) | get_top10     |
| Predictor.train_flat (XGBoost/Predictor.py:36-60)  | train_flat    |
| Predictor.train_overunder (:62-87)          | train_overunder      |
| Predictor.predict_flat (:124-145)           | predict_flat         |
| Predictor.predict_overunder (:147-172)      | predict_overunder    |

Each method composes the lazy operator layer into ONE DataFrame DAG —
semi-join -> top-10 -> pivot -> join -> na.drop — that Catalyst
optimizes and executes at fit/predict time; nothing is collected
between steps (unlike the reference's query-per-step ODBC round trips).

Feature-contract notes (SURVEY.md §2.11 fixes, preserved divergences):
- top-10 tie-break is deterministic (secondary sort on company);
- pivot feature columns are explicitly sorted by (value, company) so
  train/predict matrices align by construction;
- train joins drop any-null rows (N1); predict joins keep nulls (N2) —
  the reference's asymmetry — with imputation inside the ML pipeline;
- predict_flat implements the evidently-intended 8-column semantics
  (the reference call crashes: 10 labels vs 8 columns,
  XGBoost/Predictor.py:129-130 — SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soccerpredictor_spark.ml import pipeline as ML
from soccerpredictor_spark.operators.relational import (
    assemble_features,
    game_list,
    label_odds,
    results_labels,
    top_companies,
)
from soccerpredictor_spark.schemas import UnknownTableError

ODDS_VALUE_COLS = [
    "final_win", "final_draw", "final_lose",
    "initial_win", "initial_draw", "initial_lose",
]
OU_VALUE_COLS = [
    "initial_over", "initial_line", "initial_under",
    "final_over", "final_line", "final_under",
]

_ODDS_BLOCK = ("game_odds", ODDS_VALUE_COLS, "odds", ())
#: task -> its pivoted feature blocks in join order, each (source
#: table, value columns, flag, line columns); train and predict both
#: read it, so their matrices align by construction. The task name is
#: also its label column in ``results_labels``.
TASK_FEATURES: dict[str, tuple[tuple[str, list[str], str, tuple[str, ...]], ...]] = {
    "flat": (_ODDS_BLOCK,),
    "overunder": (
        _ODDS_BLOCK,
        ("game_overunder", OU_VALUE_COLS, "overunder", ("initial_line", "final_line")),
    ),
}


class SoccerPredictor:
    """The reference's Predictor + DAO rolled into one Spark facade.

    Tables are injected as DataFrames (from the parquet catalog, an
    ingest adapter, or test fixtures) — the analytic layer is storage
    agnostic, like the reference's SQL layer was Impala-agnostic.
    """

    def __init__(
        self,
        spark: SparkSession,
        team_list: DataFrame,
        game_record: DataFrame,
        game_odds: DataFrame,
        game_overunder: DataFrame,
        models_dir: str = "Models",
    ):
        self.spark = spark
        self.team_list = team_list
        self.game_record = game_record
        self.game_odds = game_odds
        self.game_overunder = game_overunder
        self.models_dir = models_dir

    # -- DAO layer ---------------------------------------------------------

    def get_game_list(self, team_id: str, hg: int) -> DataFrame:
        """J4: ids of games where the team plays home (hg=0)/away (hg=1)."""
        return game_list(self.team_list, self.game_record, team_id, hg)

    def get_top10(self, table: str = "game_odds", k: int = 10) -> list[str]:
        """A1+A2: the top-k companies of ``game_odds`` or
        ``game_overunder`` by row count, as a plain list (used as the
        explicit pivot-value list, mirroring the reference's two uses
        of the same query)."""
        if table not in ("game_odds", "game_overunder"):
            raise UnknownTableError(f"get_top10 reads game_odds or game_overunder, not {table!r}")
        return [r[0] for r in top_companies(getattr(self, table), k).collect()]

    # -- one path per stage: features, train, predict ----------------------

    def _features(self, task: str, games: DataFrame) -> list[DataFrame]:
        """The task's feature blocks over ``games``, in join order."""
        return [
            label_odds(getattr(self, table), games, self.get_top10(table), values, flag,
                       line_cols=lines)
            for table, values, flag, lines in TASK_FEATURES[task]
        ]

    def _train(self, task: str, team_id: str, hg: int) -> float:
        games = self.get_game_list(team_id, hg)
        blocks = self._features(task, games)
        labels = results_labels(self.game_record, games).select("id", task)
        train = assemble_features(blocks, labels, drop_null=True)
        cols = [c for b in blocks for c in b.columns if c != "id"]
        path = ML.model_path(self.models_dir, team_id, hg, task)
        _model, acc = ML.train_model(train, cols, task, path)
        return acc

    def _predict(self, task: str, team_id: str, hg: int, min_id: int) -> DataFrame:
        games = self.get_game_list(team_id, hg).filter(
            F.col("id").try_cast("int") > min_id
        )
        feat = assemble_features(self._features(task, games), drop_null=False)
        model = ML.load_model(ML.model_path(self.models_dir, team_id, hg, task))
        if model is None:
            raise FileNotFoundError(
                f"no trained model for {team_id}_{hg}_{task}; train first "
                "(reference predict refuses likewise, XGBoost/Predictor.py:135-136)"
            )
        return ML.predict(model, feat)

    def train_flat(self, team_id: str, hg: int) -> float:
        """3-class win/draw/loss model for one (team, venue); returns
        holdout accuracy (reference: train_flat, XGBoost/Predictor.py:36-60)."""
        return self._train("flat", team_id, hg)

    def train_overunder(self, team_id: str, hg: int) -> float:
        """Binary over/under model; features = odds + over/under pivots
        (3-way join, reference: XGBoost/Predictor.py:62-87)."""
        return self._train("overunder", team_id, hg)

    def predict_flat(self, team_id: str = "19", hg: int = 0, min_id: int = 1600000) -> DataFrame:
        """(id, predicted_label in '3'/'1'/'0') for recent games
        (reference: predict_flat, XGBoost/Predictor.py:124-145; the
        cast(id)>1600000 recency filter is P4)."""
        return self._predict("flat", team_id, hg, min_id)

    def predict_overunder(
        self, team_id: str = "19", hg: int = 0, min_id: int = 1500000
    ) -> DataFrame:
        """(id, predicted_label in '1'/'0') — NaN features flow to the
        imputer, preserving the reference's predict-time null
        passthrough (N2)."""
        return self._predict("overunder", team_id, hg, min_id)
