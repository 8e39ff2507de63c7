"""Pipeline-level tests (SURVEY.md §5.3): feature-matrix shape,
train/predict alignment, keyed artifacts, seeded reproducibility."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from soccerpredictor_spark.api import SoccerPredictor
from soccerpredictor_spark.operators.relational import (
    game_list,
    label_odds,
    results_labels,
    top_companies,
)
from tests.soccer_fixtures import build_fixtures


@pytest.fixture(scope="module")
def fixtures(spark):
    fx = build_fixtures(spark)
    for name in ("team_list", "game_record", "game_odds", "game_overunder"):
        fx[name] = fx[name].cache()
    return fx


@pytest.fixture()
def predictor(spark, fixtures, tmp_path):
    return SoccerPredictor(
        spark,
        fixtures["team_list"],
        fixtures["game_record"],
        fixtures["game_odds"],
        fixtures["game_overunder"],
        models_dir=str(tmp_path / "Models"),
    )


def test_game_list_venue_selection(spark, fixtures):
    home = game_list(fixtures["team_list"], fixtures["game_record"], "1", 0)
    away = game_list(fixtures["team_list"], fixtures["game_record"], "1", 1)
    home_ids = {r.id for r in home.collect()}
    away_ids = {r.id for r in away.collect()}
    assert home_ids and away_ids
    # a team can't host and visit the same game
    assert not home_ids & away_ids
    rec = fixtures["game_record"].filter(F.col("host_team") == "Team 1")
    assert home_ids == {r.id for r in rec.select("id").collect()}


def test_top10_deterministic(fixtures):
    a = [r[0] for r in top_companies(fixtures["game_odds"]).collect()]
    b = [r[0] for r in top_companies(fixtures["game_odds"]).collect()]
    assert a == b and len(a) == 10


def test_feature_matrix_shape_and_order(spark, fixtures):
    games = fixtures["game_record"].select("id")
    companies = [r[0] for r in top_companies(fixtures["game_odds"]).collect()]
    vals = ["final_win", "final_draw", "final_lose", "initial_win", "initial_draw", "initial_lose"]
    feat = label_odds(fixtures["game_odds"], games, companies, vals, "odds")
    # 10 companies x 6 values = 60 feature cols + id, sorted (value, company)
    assert len(feat.columns) == 61
    expected = ["id"] + [
        f"{v}_odds_{c}" for v in sorted(vals) for c in sorted(companies)
    ]
    assert feat.columns == expected


def test_labels_encoding(fixtures):
    labels = results_labels(fixtures["game_record"])
    vals = {r.flat for r in labels.select("flat").distinct().collect()}
    assert vals <= {"3", "1", "0", None}


def test_train_and_predict_flat(predictor, tmp_path):
    acc = predictor.train_flat("1", 0)
    assert 0.0 <= acc <= 1.0
    assert (tmp_path / "Models" / "1_0_flat").exists()
    preds = predictor.predict_flat("1", 0, min_id=1500000)
    rows = preds.collect()
    assert rows, "expected predictions for recent games"
    assert {r.predicted_label for r in rows} <= {"3", "1", "0"}


def test_train_and_predict_overunder(predictor, tmp_path):
    acc = predictor.train_overunder("2", 1)
    assert 0.0 <= acc <= 1.0
    preds = predictor.predict_overunder("2", 1, min_id=1400000)
    assert {r.predicted_label for r in preds.collect()} <= {"1", "0"}


def test_predict_without_model_raises(predictor):
    with pytest.raises(FileNotFoundError):
        predictor.predict_flat("39", 1)


def test_get_top10_unknown_table_raises(predictor):
    from soccerpredictor_spark.schemas import UnknownTableError

    assert len(predictor.get_top10("game_overunder")) == 10
    with pytest.raises(UnknownTableError):
        predictor.get_top10("game_record")


def test_split_reproducible(spark, fixtures):
    df = fixtures["game_odds"].select("id")
    a = df.randomSplit([0.4, 0.6], seed=2)[0].count()
    b = df.randomSplit([0.4, 0.6], seed=2)[0].count()
    assert a == b


def test_train_many_per_team(spark, fixtures):
    """M5 scale-out: one model per host team in a single distributed job."""
    from soccerpredictor_spark.ml.pipeline import train_many
    from soccerpredictor_spark.operators.relational import assemble_features, label_odds

    games = fixtures["game_record"].select("id", "host_team")
    companies = [r[0] for r in top_companies(fixtures["game_odds"]).collect()]
    vals = ["final_win", "final_draw", "final_lose"]
    feat = label_odds(fixtures["game_odds"], games, companies, vals, "odds")
    labels = results_labels(fixtures["game_record"]).select("id", "flat")
    data = (
        assemble_features([feat], labels, drop_null=True)
        .join(games, "id")
    )
    fcols = [c for c in feat.columns if c != "id"]
    result = train_many(data, ["host_team"], fcols, "flat")
    rows = result.collect()
    assert len(rows) == data.select("host_team").distinct().count()
    accs = [
        r.accuracy for r in rows if r.accuracy is not None and r.accuracy == r.accuracy
    ]
    assert accs, "at least some teams should produce a trained accuracy"
    assert all(0.0 <= a <= 1.0 for a in accs)


class TestEstimatorFactory:
    """_estimator is MLlib GBT with the reference's hyperparameters
    (config.py:33-35: max_depth=2, n_estimators=100,
    learning_rate=0.1)."""

    def test_fallback_without_xgb(self, spark):  # GBT wrapper needs a live JVM
        # GBT (binary) / OneVsRest+GBT (3-class) with the reference's
        # depth/rounds/step
        from pyspark.ml.classification import GBTClassifier, OneVsRest

        from soccerpredictor_spark.ml.pipeline import _estimator

        b = _estimator(2)
        assert isinstance(b, GBTClassifier)
        assert b.getMaxDepth() == 2 and b.getMaxIter() == 100
        assert abs(b.getStepSize() - 0.1) < 1e-12
        m = _estimator(3)
        assert isinstance(m, OneVsRest)
        assert isinstance(m.getClassifier(), GBTClassifier)
