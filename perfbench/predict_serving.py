"""predict_serving: the reference loop. Scraped rows are ingested by
primary key, then one closed-loop client sends prediction requests.

Tables: 3k generated games, 40 teams, 30 books with skewed coverage
(about 34k rows each in game_odds and game_overunder), brought by two
scrape rounds (see ``scrape``) of 2k then 1k games, the second with
re-scrapes of recent games. In a round each batch goes through
``ingest.rows_to_df`` then ``upsert.upsert``, and the round ends with a
read-after-write (catalog reopen, ``game_list``, ``top_companies``)
that must see it.

Set-up, timed as a whole, runs twice (the first pays the JVM's
warm-up) and reports the median: a fresh SparkContext
(``session.get_spark``), ``team_list`` and the first round through
``upsert.upsert``, each task's model artifact copied to every key's
registry path, and the predictor opened. Then, untimed, the second
round goes into the served tables (a DataFrame opened before it tells
whether a pre-batch handle still reads afterwards: a known defect,
counted as its own operation class) and the predictor is reopened.

A request is ``predict_flat`` or ``predict_overunder`` (strictly
alternating) for a (team, venue) key drawn from a seeded Zipf law,
asking for the games of the second round (about 25 a key), then
``collect``. One untimed flat request warms the serving path; the timed
stream then starts from the beginning again, so its first request
repeats the warm-up request and must answer the same. It runs for the run's seconds
and at least two pairs; ``op_p50_s`` is the mean of the two tasks'
median latencies.

Model training takes over a minute on 4 cores, more than one run can
spend, so it happens once per checkout, in a JVM of its own before the
measured one starts: the first run trains one model per task on
fixed-seed tables and keeps them under ``.perfbench_cache``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median

import numpy as np

from harness import data_files, dir_bytes, patched, payload_bytes, reset_dir, tail
from scrape import TABLES, Model, rows, scrape_round
from soccer import TEAMS, game_id, tables, team_list
from soccerpredictor_spark.schemas import SOCCER_TABLES

N_GAMES = 3_000
#: games per scrape round
ROUND_GAMES = (2_000, 1_000)
TRAIN_SEED = 20190817
TRAIN_KEY = ("1", 0)
TASKS = ("flat", "overunder")
ZIPF_S = 1.1
#: requests ask for the games of the last round
MIN_ID = int(game_id(ROUND_GAMES[0] - 1))
FLAT_LABELS = {"3", "1", "0"}
OU_LABELS = {"1", "0"}
#: set-ups per run (the first pays the JVM's warm-up) and the fewest
#: timed request pairs
SETUP_REPEATS = 2
MIN_PAIRS = 2
#: the model cache's format; bump it when the build changes.
CACHE_VERSION = "models-v2"


def build_models(ctx) -> dict:
    """Train one model per task on the fixed-seed tables, once per
    checkout; returns the cache manifest."""
    from soccerpredictor_spark.ml import pipeline as ML
    from soccerpredictor_spark.sources import upsert

    cache = os.path.join(ctx.cache_dir, CACHE_VERSION)
    manifest = os.path.join(cache, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    spark = ctx.session.spark
    staging = reset_dir(cache + ".staging")
    table_dir = os.path.join(staging, "tables")
    for name, pdf in tables(TRAIN_SEED, N_GAMES).items():
        upsert.upsert(spark, table_dir, name,
                      spark.createDataFrame(pdf, schema=SOCCER_TABLES[name][0]))
    sp = open_predictor(spark, table_dir, os.path.join(staging, "models"))
    train_s = {}
    with patched(ML, "train_model", ctx.tracer.wrap("ml.pipeline.train_model", ML.train_model)):
        for task in TASKS:
            t0 = time.perf_counter()
            getattr(sp, f"train_{task}")(*TRAIN_KEY)
            train_s[task] = time.perf_counter() - t0
    meta = {"train_seed": TRAIN_SEED, "key": list(TRAIN_KEY), "train_s": train_s}
    shutil.rmtree(table_dir)
    with open(os.path.join(staging, "manifest.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(staging, cache)
    return meta


def prepare(ctx) -> None:
    """Build the model cache if the checkout has none, in a session
    that is shut down again, so the measured JVM never trained."""
    if not os.path.exists(os.path.join(ctx.cache_dir, CACHE_VERSION, "manifest.json")):
        ctx.session.start()
        try:
            build_models(ctx)
        finally:
            ctx.session.close()


def open_predictor(spark, table_dir, models_dir):
    from soccerpredictor_spark.api import SoccerPredictor
    from soccerpredictor_spark.sources.catalog import read_any

    dfs = {n: read_any(spark, os.path.join(table_dir, n))
           for n in ("team_list", "game_record", "game_odds", "game_overunder")}
    return SoccerPredictor(spark, models_dir=models_dir, **dfs)


def install_models(cache, models_dir) -> None:
    """Copy each task's artifact to every (team, venue) registry path
    (hard links: the artifacts are read-only)."""
    from soccerpredictor_spark.ml.pipeline import model_path

    reset_dir(models_dir)
    for task in TASKS:
        src = model_path(os.path.join(cache, "models"), *TRAIN_KEY, task)
        for team_id, _ in TEAMS:
            for hg in (0, 1):
                shutil.copytree(src, model_path(models_dir, team_id, hg, task),
                                copy_function=os.link)


def make_inputs(seed: int) -> list[dict[str, list]]:
    """The scrape rounds, from the seed."""
    rng = np.random.default_rng(seed)
    rounds, first, recent = [], 0, np.array([], dtype=object)
    for n in ROUND_GAMES:
        batch = scrape_round(rng, first, n, recent)
        rounds.append(batch)
        recent = np.array([row[0] for row in batch["game_record"][:n]], dtype=object)
        first += n
    return rounds


def request_keys(seed: int):
    """Endless seeded Zipf stream over the 80 (team, venue) keys."""
    rng = np.random.default_rng(seed)
    keys = [(team_id, hg) for team_id, _ in TEAMS for hg in (0, 1)]
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
    p = w / w.sum()
    while True:
        for r in rng.choice(len(keys), size=64, p=p):
            yield keys[order[r]]


def run(ctx) -> dict:
    from soccerpredictor_spark import api
    from soccerpredictor_spark.ml import pipeline as ML
    from soccerpredictor_spark.operators.relational import game_list, top_companies
    from soccerpredictor_spark.sources import ingest, upsert
    from soccerpredictor_spark.sources.catalog import read_any

    tr = ctx.tracer
    rounds = make_inputs(ctx.seed)
    teams = rows(team_list())
    model = Model()
    model.apply("team_list", teams)
    # what each round must leave behind, computed before anything is timed
    expect = []
    for batch in rounds:
        good = {t: model.apply(t, batch[t]) for t in TABLES}
        expect.append(({t: payload_bytes(g) for t, g in good.items()},
                       sum(map(len, good.values())), model.top10()))
    team_of = {name: tid for tid, name in TEAMS}

    meta = build_models(ctx)
    cache = os.path.join(ctx.cache_dir, CACHE_VERSION)
    models_dir = os.path.join(ctx.work_dir, "models")
    ups, amps, files, fresh, jobs, rows_in, bad = [], [], [], [], [], 0, []

    def ingest_round(spark, path, r, label):
        """One scrape round: each batch through ``rows_to_df`` and
        ``upsert``, then a read-after-write on reopened tables."""
        nonlocal rows_in
        batch, (batch_bytes, n_good, top10) = rounds[r], expect[r]
        with ctx.jobs.group(ctx.trace) as box:
            t_submit = time.perf_counter()
            for table in TABLES:
                with tr.span("sources.ingest.rows_to_df"):
                    df = ingest.rows_to_df(spark, table, batch[table])
                t0 = time.perf_counter()
                with tr.span("sources.upsert.upsert"):
                    upsert.upsert(spark, os.path.dirname(path[table]), table, df)
                ups.append(time.perf_counter() - t0)
                amps.append(dir_bytes(path[table]) / batch_bytes[table])
                files.append(data_files(path[table]))
            with tr.span("sources.catalog.read_any"):
                tl, gr, go = (read_any(spark, path[t])
                              for t in ("team_list", "game_record", "game_odds"))
            probe = batch["game_record"][0]
            with tr.span("operators.relational.game_list"):
                gl = game_list(tl, gr, team_of[probe[4]], 0)
            with tr.span("operators.relational.top_companies"):
                tc = top_companies(go)
            with tr.span("freshness.collect"):
                seen = {row[0] for row in gl.collect()}
                top = [row[0] for row in tc.collect()]
            fresh.append(time.perf_counter() - t_submit)
        rows_in += n_good
        if box is not None:
            jobs.append(box["jobs"])
        if probe[0] not in seen or top != top10:
            bad.append(f"{label}: the read after the write missed the batch")

    # -- set-up, repeated: session, first scrape round, model registry -----
    setups = []
    tr.op = "setup"
    for rep in range(SETUP_REPEATS):
        table_dir = os.path.join(ctx.work_dir, f"tables{rep}")
        path = {t: os.path.join(table_dir, t) for t in ("team_list",) + TABLES}
        t_setup = time.perf_counter()
        spark = ctx.session.start()
        with tr.span("setup.sources.upsert.upsert"):
            upsert.upsert(spark, table_dir, "team_list",
                          ingest.rows_to_df(spark, "team_list", teams))
        ingest_round(spark, path, 0, f"set-up {rep}")
        install_models(cache, models_dir)
        open_predictor(spark, table_dir, models_dir)
        setups.append(time.perf_counter() - t_setup)

    # -- ingest: the second round (re-scrapes) into the served tables ------
    # Known defect, counted as its own operation class: a DataFrame opened
    # on a table before ``upsert.upsert`` cannot read after it (the
    # directory swap deletes the files it listed).
    tr.op = "ingest"
    t_phase = time.perf_counter()
    handle = read_any(spark, path["game_odds"])
    ingest_round(spark, path, 1, "ingest")
    try:
        handle.count()
        stale_failed = False
    except Exception:  # noqa: BLE001 - FAILED_READ_FILE.FILE_NOT_EXIST
        stale_failed = True
    sp = open_predictor(spark, table_dir, models_dir)
    tr.op = None
    phases = {"set-up": sum(setups), "ingest": time.perf_counter() - t_phase}

    # -- serving -----------------------------------------------------------
    if ctx.trace:
        for obj, attr, name in ((ML, "load_model", "ml.pipeline.load_model"),
                                (ML, "predict", "ml.pipeline.predict"),
                                (api, "label_odds", "operators.relational.label_odds"),
                                (api, "assemble_features", "operators.relational.assemble_features")):
            ctx.stack.enter_context(patched(obj, attr, tr.wrap(name, getattr(obj, attr))))
        sp.get_top10 = tr.wrap("api.get_top10", sp.get_top10)
        sp.get_game_list = tr.wrap("api.get_game_list", sp.get_game_list)

    keys = request_keys(ctx.seed)
    # untimed warm-up: one flat request (the heavier model, whose load
    # exercises the classes both tasks use); the timed stream starts from
    # the beginning again, so it repeats this request and must answer the same
    tr.enabled = False
    t_phase = time.perf_counter()
    key = next(keys)
    warm = (key, "flat", sp.predict_flat(*key, MIN_ID).collect())
    keys = request_keys(ctx.seed)
    phases["warm-up"] = time.perf_counter() - t_phase

    lat: dict[str, list[float]] = {"traced": [], "untraced": []}
    all_lat, results, failed, errors = [], [], 0, []
    # a traced run traces pairs 0 and 3 of every four (against the trend
    # of a still-warming JVM), so it takes four pairs at least
    min_pairs = max(MIN_PAIRS, 4) if ctx.trace else MIN_PAIRS
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    i = 0
    # closed loop; stop on an even count so both tasks weigh equally
    while time.perf_counter() < deadline or i % 2 or i < 2 * min_pairs:
        team_id, hg = next(keys)
        task = TASKS[i % 2]
        traced = ctx.trace and (i // 2) % 4 in (0, 3)
        tr.enabled = traced
        tr.op = f"req{i}"
        t0, box, got = time.perf_counter(), None, None
        try:
            with ctx.jobs.group(traced) as box, tr.span(f"api.predict_{task}"):
                df = getattr(sp, f"predict_{task}")(team_id, hg, MIN_ID)
                with tr.span("api.result_collect"):
                    got = df.collect()
        except Exception as e:  # noqa: BLE001 - a failed request is counted, the loop goes on
            failed += 1
            errors.append(f"{type(e).__name__}: {e}"[:300])
        dt = time.perf_counter() - t0
        if box is not None:
            tr.count("spark.jobs", box["jobs"])
        if got is not None:
            all_lat.append(dt)
            lat["traced" if traced else "untraced"].append(dt)
            results.append((team_id, hg, task, got))
        i += 1
    elapsed = time.perf_counter() - t_start
    tr.enabled = ctx.trace
    tr.op = None

    # -- correctness, untimed ----------------------------------------------
    t_phase = time.perf_counter()
    for table in path:
        got = {tuple(row) for row in read_any(spark, path[table]).toPandas().itertuples(index=False)}
        if got != set(model.rows[table].values()):
            bad.append(f"{table}: table differs from the latest-wins model")
    stored = sum(dir_bytes(p) for p in path.values())
    live = sum(payload_bytes(t.values()) for t in model.rows.values())
    for team_id, hg, task, got in results:
        labels = {row["predicted_label"] for row in got}
        if (sorted(row["id"] for row in got) != sorted(model.predict_ids(team_id, hg, MIN_ID))
                or not labels <= (FLAT_LABELS if task == "flat" else OU_LABELS)):
            bad.append(f"{team_id}_{hg}_{task}: wrong ids or labels")
    answers: dict[tuple, list] = {}
    (team_id, hg), task, got = warm
    answers[(team_id, hg, task)] = [sorted(map(tuple, got))]
    for team_id, hg, task, got in results:
        answers.setdefault((team_id, hg, task), []).append(sorted(map(tuple, got)))
    for key, seen in answers.items():
        if any(a != seen[0] for a in seen[1:]):
            bad.append(f"{key}: a repeated request changed its answer")
    phases.update(timed=elapsed, checks=time.perf_counter() - t_phase)

    layers = {}
    if ctx.trace:
        ops = {f"req{j}" for j in range(i) if (j // 2) % 4 in (0, 3)}
        for name in ("ml.pipeline.load_model", "api.get_top10"):
            total, calls = tr.total(name, ops)
            layers[f"{name}.s"] = total / len(ops)
            layers[f"{name}.calls_per_req"] = calls / len(ops)
        for name in ("api.get_game_list", "operators.relational.label_odds",
                     "operators.relational.assemble_features",
                     "ml.pipeline.predict", "api.result_collect"):
            layers[f"{name}.s"] = tr.total(name, ops)[0] / len(ops)
        layers["spark.jobs_per_req"] = tr.counts.get("spark.jobs", 0.0) / len(ops)
        layers["spark.jobs_per_round"] = median(jobs)
        layers["ml.pipeline.train_model.s"] = median(list(meta["train_s"].values()))
        layers["setup.sources.upsert.upsert.s"] = (
            tr.total("setup.sources.upsert.upsert", {"setup"})[0] / SETUP_REPEATS)
        n_rounds = len(fresh)
        for name in ("sources.ingest.rows_to_df", "sources.upsert.upsert",
                     "sources.catalog.read_any", "operators.relational.game_list",
                     "operators.relational.top_companies", "freshness.collect"):
            layers[f"{name}.s"] = tr.total(name, {"setup", "ingest"})[0] / n_rounds
        layers["sources.upsert.write_amp"] = median(amps)
        layers["sources.upsert.files_per_table"] = median(files)
        layers["sources.upsert.stale_handle_failures"] = float(stale_failed)
        layers["session.get_spark.s"] = tr.total("session.get_spark", {"setup"})[0] / SETUP_REPEATS

    q, tail_v = tail(all_lat)
    # the two tasks differ in cost, so the median of the mixed stream
    # would sit in the gap between them: each task's median, averaged
    per_task = {k: [t for r, t in zip(results, all_lat) if r[2] == k] for k in TASKS}
    p50 = (sum(median(v) for v in per_task.values()) / len(TASKS)
           if all(per_task.values()) else float("nan"))
    return {
        "attempted": i, "failed": failed, "correct": not bad and failed == 0,
        "errors": errors[:5] + bad[:5],
        "setup_runs_s": setups,
        "e2e": {
            "setup_s": median(setups),
            "op_p50_s": p50,
            "ops_per_s": len(all_lat) / elapsed,
        },
        "detail": {
            "predict_p50_s": p50,
            "predict_task_p50_s": {k: median(v) for k, v in per_task.items() if v},
            "predict_tail_s": tail_v, "predict_tail_percentile": q,
            "predict_samples": len(all_lat),
            "predict_lat_s": [(r[2], round(t, 4)) for r, t in zip(results, all_lat)],
            "predict_rps": len(all_lat) / elapsed,
            "upsert_p50_s": median(ups), "upsert_samples": len(ups),
            "freshness_p50_s": median(fresh), "freshness_samples": len(fresh),
            "ingest_rows_per_s": rows_in / sum(fresh),
            "space_amp": stored / live,
            "write_amp_p50": median(amps),
            "stale_handle_read": {"attempted": 1, "failed": int(stale_failed)},
            "table_rows": {t: len(v) for t, v in model.rows.items() if v},
            "model_cache": meta,
            "phase_s": phases,
        },
        "layers": layers,
        "overhead_samples": lat,
    }
