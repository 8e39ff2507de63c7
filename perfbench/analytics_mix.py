"""analytics_mix: one closed-loop client runs a fixed set of registry
queries (``__spark_entry__.queries()``), each collected to the client
with ``toPandas``: one cold pass right after set-up, then warm passes in
the same session for the run's seconds (at least three). An operation
is one pass over the set (the analyst's report); ``op_p50_s`` is a warm
pass as the sum of each query's median warm time. The cold pass's
answers are the ones checked, so the timed work and the checked work
are the same. Set-up (a fresh SparkContext that reads every table) runs
twice (the first pays the JVM's warm-up) and reports the median.

Inputs are generated from the seed at ``analytics_data.SF`` (0.01:
60k lineitem rows, about 2 MB of parquet, far below the JVM heap,
so every table fits in memory). The cold pass pays the plan-keyed
family caches of ``operators.scale`` once; warm passes hit them.
After timing, each cold-pass answer is compared with its DuckDB twin.
The two embedding near-dup queries are left out: their DuckDB twins
take about a minute each.
"""

from __future__ import annotations

import gc
import os
import sys
import time
from statistics import median

from analytics_data import SF, TABLES, generate
from harness import tail

#: (registry name, module it exercises), in cold-pass order. The first
#: member of a family builds the shared cache that later members reuse.
QUERIES = [
    ("tpch_q1", "plans.tpch"),
    ("dedup_clusters", "operators.dedup"),
    ("dedup_minhash_lsh", "operators.dedup"),
    ("ann_lsh_topk", "operators.similarity"),
    ("hash_split", "operators.textops"),
    ("range_join", "operators.joins"),
    ("graph_degree_stats", "operators.graph"),
    ("window_topn_per_group", "operators.windows"),
    ("skew_profile", "operators.skew"),
    ("hll_distinct", "operators.sketch"),
    ("top_k_count", "operators.relational"),
    ("streaming_upsert", "streaming.events"),
]
FAMILY_FIRST = {"dedup_clusters"}
FAMILY_REPEAT = {"dedup_minhash_lsh"}
MODULES = sorted({m for _, m in QUERIES})
SETUP_REPEATS = 2
#: per-query medians over several warm passes ride out short bursts of
#: host load
MIN_WARM_PASSES = 3


def _check(answers, oracles, data_dir, root) -> list[str]:
    """Each query's answer against its DuckDB twin, with the comparison
    rules of the repository's oracle-parity test."""
    import duckdb

    sys.path.insert(0, os.path.join(root, "tests"))
    from test_oracle_parity import assert_frames_match

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, got in answers.items():
            try:
                assert_frames_match(name, got, con.execute(oracles[name]).fetchdf())
            except AssertionError as e:
                bad.append(f"{name}: {e}"[:300])
        return bad
    finally:
        con.close()


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from soccerpredictor_spark.operators import scale
    from soccerpredictor_spark.sources.catalog import read_table

    tr = ctx.tracer
    data_dir = os.path.join(ctx.work_dir, "data")
    t_phase = time.perf_counter()
    sizes = generate(ctx.seed, data_dir)
    phases = {"generate": time.perf_counter() - t_phase}
    reg, oracles = entry.queries(), entry.oracle_sql()

    setups = []
    tr.op = "setup"
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tr.span("setup"):
            spark = ctx.session.start()
            for t in TABLES:
                read_table(spark, data_dir, t).count()
        setups.append(time.perf_counter() - t0)
    tr.op = None
    scale.clear_caches()

    def one(name: str, module: str, tag: str, traced: bool):
        tr.enabled = traced
        tr.op = f"{tag}:{name}"
        t0, box, got = time.perf_counter(), None, None
        try:
            with ctx.jobs.group(traced) as box, tr.span(module):
                got = reg[name](spark, data_dir).toPandas()
            err = None
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the mix goes on
            err = f"{name}: {type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        if box is not None:
            tr.count("spark.jobs", box["jobs"])
            tr.count("queries")
        return dt, err, got

    cold, answers, warm, errors = {}, {}, {n: [] for n, _ in QUERIES}, []
    by_mode: dict[tuple[str, bool], list[float]] = {}
    warm_passes = []
    t_start = time.perf_counter()
    for name, module in QUERIES:
        dt, err, answers[name] = one(name, module, "cold", ctx.trace)
        if err:
            errors.append(err)
        else:
            cold[name] = dt
    cold_s = time.perf_counter() - t_start
    # release checkpointed blocks of the finished pass (py4j finalizers)
    gc.collect()
    # warm passes, timed for the run's seconds (a traced run alternates
    # traced and untraced queries across the passes)
    p = 0
    t_warm = time.perf_counter()
    while p < MIN_WARM_PASSES or time.perf_counter() - t_warm < ctx.seconds:
        t0 = time.perf_counter()
        for j, (name, module) in enumerate(QUERIES):
            traced = ctx.trace and (j + p) % 2 == 0
            dt, err, _ = one(name, module, f"warm{p}", traced)
            if err:
                errors.append(err)
                continue
            warm[name].append(dt)
            by_mode.setdefault((name, traced), []).append(dt)
        warm_passes.append(time.perf_counter() - t0)
        p += 1
        gc.collect()
    elapsed = time.perf_counter() - t_warm
    tr.enabled = ctx.trace
    tr.op = None

    t_phase = time.perf_counter()
    bad = _check({n: a for n, a in answers.items() if a is not None},
                 oracles, data_dir, ctx.root)
    phases.update({"set-up": sum(setups), "cold": cold_s, "timed": elapsed,
                   "checks": time.perf_counter() - t_phase})

    def traced_warm_mean(name: str, module: str) -> float:
        total, calls = tr.total(module, {f"warm{k}:{name}" for k in range(p)})
        return total / calls if calls else 0.0

    layers = {}
    if ctx.trace:
        for m in MODULES:
            members = [n for n, mod in QUERIES if mod == m]
            layers[f"{m}.cold.s"] = sum(cold.get(n, 0.0) for n in members)
            layers[f"{m}.warm.s"] = sum(traced_warm_mean(n, m) for n in members)
        layers["operators.scale.family_first.s"] = median([cold[n] for n in FAMILY_FIRST if n in cold] or [0.0])
        layers["operators.scale.family_repeat.s"] = median([cold[n] for n in FAMILY_REPEAT if n in cold] or [0.0])
        layers["spark.jobs_per_query"] = tr.counts.get("spark.jobs", 0.0) / tr.counts["queries"]
        layers["session.get_spark.s"] = (
            tr.total("session.get_spark", {"setup"})[0] / SETUP_REPEATS)

    lat = [t for ts in warm.values() for t in ts]
    # a warm pass as the sum of each query's median: one slow query in one
    # pass does not move it
    warm_pass_s = (sum(median(ts) for ts in warm.values())
                   if all(warm.values()) else float("nan"))
    q, tail_v = tail(lat)
    attempted = len(QUERIES) * (1 + p)
    return {
        "attempted": attempted, "failed": len(errors),
        "correct": not bad and not errors,
        "errors": errors[:5] + bad[:5],
        "setup_runs_s": setups,
        "e2e": {
            "setup_s": median(setups),
            "op_p50_s": warm_pass_s,
            "ops_per_s": p / elapsed,
        },
        "detail": {
            "mix_cold_s": cold_s,
            "mix_warm_s": warm_pass_s,
            "warm_pass_times_s": warm_passes,
            "warm_passes": p,
            "query_p50_s": median(lat) if lat else None,
            "query_tail_s": tail_v, "query_tail_percentile": q, "query_samples": len(lat),
            "cold_s": cold,
            "warm_s": {n: median(ts) for n, ts in warm.items() if ts},
            "sf": SF, "table_rows": sizes, "phase_s": phases,
        },
        "layers": layers,
        # each query's traced and untraced times, over the queries that have
        # both, so the two sides cover the same queries
        "overhead_samples": {
            side: [median(by_mode[(n, side == "traced")]) for n, _ in QUERIES
                   if (n, True) in by_mode and (n, False) in by_mode]
            for side in ("traced", "untraced")},
    }
