"""Keyed classifier pipelines (SURVEY.md §2.8 M1-M5).

Re-expresses the reference's per-(team, venue, task) XGBoost flow
(XGBoost/Predictor.py:89-170) as pyspark.ml:

- M1 train/test split: randomSplit([0.4, 0.6], seed=2) — the reference
  holds out 60% as *test* (test_size=0.6, random_state=2, config.py:31-32).
- M2 fit: MLlib GBTClassifier (binary) / OneVsRest+GBT (3-class)
  with the reference's depth/rounds/step — the reference's
  boosted-tree family, per SURVEY.md §7.4. Labels are the reference's
  string encodings ('3'/'1'/'0', '1'/'0'); a pinned-order StringIndexer
  maps them to indices and IndexToString restores them on output, so
  predictions surface exactly like the reference's.
- M3 accuracy: MulticlassClassificationEvaluator(metricName='accuracy')
  (reference: model.score, XGBoost/Predictor.py:112-113).
- M4 batch predict: model.transform -> (id, prediction).
- M5 keyed model registry: Models/{team}_{venue}_{task} directories
  with save/load + existence checks (XGBoost/Predictor.py:116-118,135-136,
  161-164).

Predict-time NaN passthrough (N2): the reference feeds NaN features to
XGBoost, which handles them natively. VectorAssembler does not, so the
pipeline leads with an Imputer (mean) fitted at train time — nulls
survive to predict and are imputed deterministically there.

Scale: one model trains on the cluster via pyspark.ml. For *thousands*
of per-team models, ``train_many`` switches to the many-small-models
pattern: groupBy(key).applyInPandas with a driver-side sklearn-style
fit per group — each model's data fits one executor, all keys train in
parallel (SURVEY.md §7.2 step 7).
"""

from __future__ import annotations

import os

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier, OneVsRest
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import Imputer, IndexToString, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 2
TEST_FRACTION = 0.6  # reference: test_size=0.6 (config.py:31)


def _estimator(num_classes: int):
    """The classifier, staying in the reference's boosted-tree family
    with its hyperparameters (XGBoost/Predictor.py:106-111:
    max_depth=2, n_estimators=100, learning_rate=0.1): MLlib
    GBTClassifier with the same depth/rounds/step. GBT is binary-only
    in MLlib, so the 3-class task wraps it in OneVsRest (per SURVEY
    §7.4). A same-API forest would silently change both the model
    family and what the hyperparameters mean.
    """
    gbt = GBTClassifier(
        featuresCol="features", labelCol="label", seed=SEED,
        maxDepth=2, maxIter=100, stepSize=0.1,
    )
    if num_classes <= 2:
        return gbt
    return OneVsRest(
        classifier=gbt, featuresCol="features", labelCol="label",
        predictionCol="prediction", parallelism=4,
    )


def build_pipeline(feature_cols: list[str], label_col: str, labels: list[str]) -> Pipeline:
    """Imputer -> VectorAssembler -> StringIndexer(label) -> classifier
    -> IndexToString(prediction back to the reference's encoding).

    ``labels`` is the pinned index->label mapping (from a pre-fit
    StringIndexer) bound explicitly into IndexToString — prediction
    column metadata does not reliably survive model save/load.
    """
    imputed = [f"{c}__imp" for c in feature_cols]
    imputer = Imputer(inputCols=feature_cols, outputCols=imputed, strategy="mean")
    assembler = VectorAssembler(inputCols=imputed, outputCol="features", handleInvalid="keep")
    indexer = StringIndexer(
        inputCol=label_col, outputCol="label", stringOrderType="alphabetAsc",
        handleInvalid="skip",
    )
    clf = _estimator(len(labels))
    decode = IndexToString(inputCol="prediction", outputCol="predicted_label", labels=labels)
    return Pipeline(stages=[imputer, assembler, indexer, clf, decode])


def model_path(models_dir: str, team_id: str, hg: int, task: str) -> str:
    """Keyed artifact path — the reference's Models/{team}_{hg}_{task}
    naming (XGBoost/Predictor.py:117)."""
    return os.path.join(models_dir, f"{team_id}_{hg}_{task}")


def train_model(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str,
    path: str,
) -> tuple[PipelineModel, float]:
    """M1+M2+M3+M5: split, fit on the 40% train side, score accuracy on
    the 60% holdout, persist. Returns (model, accuracy)."""
    train, test = features.randomSplit([1 - TEST_FRACTION, TEST_FRACTION], seed=SEED)
    # pin the label mapping on the FULL dataset so train/test/predict
    # all share one encoding (alphabetAsc: '0'->0, '1'->1, '3'->2)
    labels = (
        StringIndexer(
            inputCol=label_col, outputCol="label", stringOrderType="alphabetAsc"
        )
        .fit(features)
        .labels
    )
    pipeline = build_pipeline(feature_cols, label_col, labels)
    model = pipeline.fit(train)
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    scored = model.transform(test)
    accuracy = float(evaluator.evaluate(scored)) if scored.count() > 0 else float("nan")
    model.write().overwrite().save(path)
    return model, accuracy


def load_model(path: str) -> PipelineModel | None:
    """M5 load with the reference's existence check
    (XGBoost/Predictor.py:135-136: predict refuses without a model)."""
    if not os.path.exists(path):
        return None
    return PipelineModel.load(path)


def predict(model: PipelineModel, features: DataFrame, id_col: str = "id") -> DataFrame:
    """M4: batch predict -> (id, predicted_label) in the reference's
    string encoding.

    Prediction inputs carry no label column (reference predicts from a
    feature-only matrix, XGBoost/Predictor.py:165); the fitted
    StringIndexer stage still expects one, so a dummy valid label is
    injected and ignored by the classifier's transform."""
    from pyspark.ml.feature import IndexToString as _ITS
    from pyspark.ml.feature import StringIndexerModel as _SIM

    df = features
    for stage in model.stages:
        if isinstance(stage, _SIM):
            label_col = stage.getInputCol()
            if label_col not in df.columns:
                decode = next(s for s in model.stages if isinstance(s, _ITS))
                df = df.withColumn(label_col, F.lit(decode.getLabels()[0]))
    return model.transform(df).select(id_col, "predicted_label")


def train_many(
    features: DataFrame,
    key_cols: list[str],
    feature_cols: list[str],
    label_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Many-small-models: train one classifier per key group in a single
    distributed job (groupBy + applyInPandas), returning per-key holdout
    accuracy. This is how per-(team,venue) models scale to thousands of
    teams: each group's data is small; the cluster parallelizes across
    groups (Arrow-batched, no driver loop).

    With ``id_col``, the output additionally carries a CLOSED-FORM
    evaluated baseline whose every number is SQL-expressible (the
    oracle twin for the accuracy surface — reference
    XGBoost/Predictor.py:112-113's score, made engine-checkable):
    the holdout is the md5(id) % 100 hash split (same engine-portable
    idiom as hash_split; train = buckets [0, 40), mirroring the
    reference's test_size=0.6 from config.py:31), the model is the
    per-key MAJORITY CLASS of the train split (count desc, label asc
    tie-break), and ``baseline_accuracy`` is its exact holdout hit
    rate (a sum of 0/1 doubles over the count — bit-reproducible in
    any engine at any partitioning). The seeded nearest-centroid fit's
    ``accuracy`` remains as the iterative side channel.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    schema = (
        ", ".join([f"{k} string" for k in key_cols])
        + ", n_rows long, n_classes long, feat_sum_cents long,"
        + " label_hist string, accuracy double,"
        + " majority_label string, baseline_accuracy double"
    )

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        # dependency-free per-group model (nearest class centroid) so the
        # many-models pattern runs in any executor environment; swap the
        # body for xgboost/sklearn where available — the Spark plumbing
        # (grouping, Arrow batching, schema) is identical.
        # row order within a group is partition-dependent; sort so the
        # seeded split (and therefore accuracy) is reproducible.
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
        keys = {k: str(pdf[k].iloc[0]) for k in key_cols}
        out = dict(keys)
        out["n_rows"] = len(pdf)
        # deterministic, SQL-expressible training-data contract so the
        # many-models path itself is oracle-checkable (accuracy alone
        # has no SQL twin — the seeded split/fit is not SQL):
        #   feat_sum_cents — exact int64 sum of the first feature in
        #     cents; sign-aware half-away-from-zero rounding so it
        #     matches DuckDB round() for NEGATIVE features too
        #     (floor(x*100+0.5) alone rounds negative halves toward
        #     +inf — round-5 advice), same kernel as _nd_sketch_udf
        #   label_hist    — "label:count" pairs, sorted by label
        labs = pdf[label_col].astype(str)
        out["n_classes"] = int(labs.nunique())
        f0 = pdf[feature_cols[0]].astype("float64").to_numpy()
        f0 = np.where(np.isnan(f0), 0.0, f0)
        cents = np.where(
            f0 >= 0.0,
            np.floor(f0 * 100.0 + 0.5),
            np.ceil(f0 * 100.0 - 0.5),
        )
        out["feat_sum_cents"] = int(cents.astype("int64").sum())
        vc = labs.value_counts()
        out["label_hist"] = ",".join(
            f"{lab}:{int(vc[lab])}" for lab in sorted(vc.index)
        )
        out["majority_label"] = None
        out["baseline_accuracy"] = None
        if id_col is not None:
            buckets = np.asarray(
                [
                    int(hashlib.md5(str(v).encode()).hexdigest()[:4], 16) % 100
                    for v in pdf[id_col]
                ]
            )
            is_train = buckets < 40  # test fraction 0.6, reference config.py:31
            tr, te = labs.to_numpy()[is_train], labs.to_numpy()[~is_train]
            if len(tr):
                uniq, counts = np.unique(tr, return_counts=True)
                # majority with (count desc, label asc) tie-break:
                # np.unique returns labels sorted asc, argmax takes the
                # FIRST maximal count — exactly the smallest such label
                maj = str(uniq[np.argmax(counts)])
                out["majority_label"] = maj
                if len(te):
                    out["baseline_accuracy"] = float((te == maj).sum()) / len(te)
        x = pdf[feature_cols].astype("float64")
        x = x.fillna(x.mean()).fillna(0.0).to_numpy()
        y = pdf[label_col].astype(str).to_numpy()
        if len(set(y)) < 2 or len(pdf) < 10:
            out["accuracy"] = float("nan")
        else:
            perm = np.random.RandomState(SEED).permutation(len(y))
            n_test = int(len(y) * TEST_FRACTION)
            te, tr = perm[:n_test], perm[n_test:]
            classes = sorted(set(y[tr]))
            cents = np.stack([x[tr][y[tr] == c].mean(axis=0) for c in classes])
            d = ((x[te][:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            pred = np.asarray(classes)[d.argmin(axis=1)]
            out["accuracy"] = float((pred == y[te]).mean())
        return pd.DataFrame([out])

    return features.groupBy(*key_cols).applyInPandas(fit_one, schema=schema)
