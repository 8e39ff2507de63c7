"""Physical-plan assertions: the plans we'd want on a 1000-executor
cluster, checked on every registered query.

Correctness says the operator works; these tests say it would still be
FAST at 100 TB:
- filters reach the parquet scan (PushedFilters), so row groups prune;
- projections reach the scan (ReadSchema), so unused columns are
  never read;
- small-side joins broadcast instead of shuffling the fact table;
- hot paths stay in whole-stage codegen — no row-at-a-time Python
  (BatchEvalPython) anywhere except the declared Arrow/pandas
  operators (mapInPandas / applyInPandas).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )



def _key_exchanges(plan: str) -> int:
    """Count Exchange nodes EXCLUDING parallelism-restoring round-robin
    fan-outs (operators.scale.fan_out). fan_out only fires when the
    scan has fewer splits than the cluster has cores — a local-fixture
    artifact; at 100 TB the very same plan has no such Exchange. Key
    shuffles (HashPartitioning/RangePartitioning) are what these tests
    guard against."""
    return sum(
        1
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "ReusedExchange" not in ln
        and "RoundRobinPartitioning" not in ln
    )

@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark, sf001):
    df = entry.queries()["filter_cast_range"](spark, sf001)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # the isin on l_linenumber is a plain literal predicate -> pushed
    assert "In(l_linenumber" in plan


def test_column_pruning_reaches_scan(spark, sf001):
    df = entry.queries()["distinct_projection"](spark, sf001)
    plan = _formatted(df)
    # scan must read just the projected column, not all of customer
    assert "ReadSchema: struct<c_mktsegment:string>" in plan


def test_semi_join_broadcasts_small_sides(spark, sf001):
    plan = _plan(entry.queries()["semi_join"](spark, sf001))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the fact table (customer) must NOT shuffle for the join
    assert "SortMergeJoin" not in plan


def test_topk_plans_as_take_ordered(spark, sf001):
    plan = _plan(entry.queries()["top_k_count"](spark, sf001))
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_before_shuffle(spark, sf001):
    plan = _plan(entry.queries()["top_k_count"](spark, sf001))
    # map-side combine: partial_count before the exchange, final after
    assert "partial_count" in plan


def test_range_join_literal_tiers_is_pure_projection(spark, sf001):
    """Literal tiers classify via a CASE in the scan projection — no
    join node of any kind; the only exchange is the 4-key final agg."""
    plan = _plan(entry.queries()["range_join"](spark, sf001))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_range_join_bands_broadcasts_tiers(spark, sf001):
    plan = _plan(entry.queries()["range_join_bands"](spark, sf001))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle_window(spark, sf001):
    plan = _plan(entry.queries()["asof_join"](spark, sf001))
    # one window over the union — no join node at all
    assert "Window" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


NO_PYTHON_EXCEPTIONS = {
    # declared Arrow-batched pandas operators — the sanctioned Python
    "multimodal_decode",  # mapInPandas decode plumbing
    "embedding_near_dup",  # Arrow sketch+verify kernels (similarity._nd_sketch_udf)
    "embedding_dedup_clusters",  # same pair pipeline under the CC loop
    "ml_train_many",  # applyInPandas many-models
    "ml_train_many_accuracy",  # same applyInPandas fit, accuracy surface
    "streaming_hourly",  # executes eagerly at build time
    "knn_graph",  # same Arrow sketch+verify kernels as embedding_near_dup
    "media_scene_segments",  # mapInPandas decode feeding frame signatures
    "media_phash_neardup",  # mapInPandas dHash kernel over payload bytes
}


def test_no_row_python_in_any_registered_query(spark, sf001):
    """BatchEvalPython (row-at-a-time Python UDF) must appear in NO
    query; ArrowEvalPython/mapInPandas only where declared."""
    for name, fn in entry.queries().items():
        if name in NO_PYTHON_EXCEPTIONS:
            continue
        plan = _plan(fn(spark, sf001))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} unexpectedly uses a pandas UDF"
        assert "MapInPandas" not in plan, f"{name} unexpectedly uses mapInPandas"


def test_whole_stage_codegen_covers_scan_queries(spark, sf001):
    """The relational hot paths stay inside whole-stage codegen.

    (text_profile / doc_fingerprint are exempt by design: higher-order
    array expressions — transform/aggregate/filter — don't support
    codegen in Spark; they still run JVM-side on the scan, which is
    the property that matters.)
    """
    # AQE wraps the plan in AdaptiveSparkPlan and only applies codegen
    # per-stage at runtime; disable it so the static plan shows the
    # codegen stages directly (the `*(n)` markers).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("tpch_q1", "fraction_avg", "case_encode", "left_join_dropna"):
            plan = _plan(entry.queries()[name](spark, sf001))
            assert "*(" in plan, f"{name} fell out of codegen"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_exchange_reuse_in_self_join(spark, sf001):
    """The jaccard shingle self-join's two sides are identical plans —
    Spark must compute the shingle stream once and reuse the exchange
    (under AQE the reuse happens at runtime; assert on the static
    plan)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(entry.queries()["dedup_jaccard"](spark, sf001))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan


def test_hash_split_is_pure_projection(spark, sf001):
    """The dataset splitter must add ZERO exchanges — it's the thing
    you apply to 100 TB on the way through, not a job of its own."""
    plan = _plan(entry.queries()["hash_split"](spark, sf001))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_q18_semi_join_no_cartesian(spark, sf001):
    plan = _plan(entry.queries()["tpch_q18"](spark, sf001))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf001):
    plan = _plan(entry.queries()["tpch_q22"](spark, sf001))
    assert "LeftAnti" in plan
    # the 1-row threshold must broadcast, never shuffle the fact side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q19_band_predicates_push_to_scan(spark, sf001):
    plan = _formatted(entry.queries()["tpch_q19"](spark, sf001))
    # the across-band l_quantity envelope [1, 40] is derivable, but
    # engines differ on OR-factoring; what MUST hold: part is broadcast
    # and brand/size predicates reach the part scan
    assert "BroadcastHashJoin" in plan
    assert "In(p_brand" in plan or "p_brand" in plan.split("PushedFilters")[-1]


def test_ivf_assignment_is_pure_projection(spark, sf001):
    """IVF nearest-centroid assignment must be an argmin projection
    over the broadcast centroid array — no Window, no shuffle Exchange
    of the vector table (the crossJoin+row_number formulation would
    shuffle a 16x expansion of the entire dataset)."""
    plan = _plan(entry.queries()["ann_ivf_topk"](spark, sf001))
    assert "Window" not in plan
    assert "array_min" in plan
    # every Exchange in the plan must be a broadcast of a tiny side
    import re

    # (a parallelism-restoring RoundRobin fan-out of the starved local
    # scan is allowed — it is absent at scale; see _key_exchanges)
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "ReusedExchange" not in ln
    ]
    assert exchanges, "expected broadcast exchanges for the centroid/query sides"
    assert all(
        "BroadcastExchange" in e or "RoundRobinPartitioning" in e for e in exchanges
    ), exchanges


def test_salted_join_spreads_key_and_matches_plain(spark, sf001):
    """The salted join must actually join on (key, salt) — a shuffle
    join whose hot key is spread across reducers — and the replication
    side must be a Generate (explode) of the salt sequence."""
    plan = _plan(entry.queries()["salted_join"](spark, sf001))
    assert "__salt" in plan
    assert "Generate" in plan  # salt replication of the small side


def test_trailing_range_window_single_shuffle(spark, sf001):
    """The time-RANGE window: one exchange on user_id, a RANGE frame
    (not ROWS), no join nodes."""
    plan = _plan(entry.queries()["window_trailing_range"](spark, sf001))
    assert "Window" in plan
    assert "RangeFrame" in plan
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_ivf_kmeans_never_shuffles_vectors(spark, sf001):
    """The Lloyd-refined IVF: both assignment passes are broadcast
    argmin projections — the vector table must never be exchanged on
    vec_id (the refinement's only shuffles key on (list_id, pos),
    whose volume is lists x dims, not rows)."""
    plan = _plan(entry.queries()["ann_ivf_kmeans"](spark, sf001))
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan
    assert "array_min" in plan


def test_chunking_and_sampling_are_shuffle_free(spark, sf001):
    """doc_chunks and stratified_sample are the ops you apply to
    100 TB on the way through — they must add ZERO exchanges."""
    for name in ("doc_chunks", "stratified_sample", "winnowing"):
        plan = _plan(entry.queries()[name](spark, sf001))
        assert _key_exchanges(plan) == 0, f"{name} shuffles on a key"
        assert "BatchEvalPython" not in plan


def test_tfidf_single_explode(spark, sf001):
    """df-via-window keeps ONE Generate (explode) in the plan; the
    groupBy+join formulation would duplicate the whole subtree."""
    plan = _plan(entry.queries()["tfidf_top_terms"](spark, sf001))
    assert plan.count("Generate") == 1


def test_contamination_generate_has_no_expensive_parent_projection(spark, sf001):
    """The exploded shingle stream must carry ONLY (doc_id, shingle):
    a size(<shingle expr>) projected in the same select as the explode
    gets hoisted ABOVE the Generate by CollapseProject and re-runs the
    whole gram construction once per exploded row (measured 16s -> 3s
    at sf0.1). Totals must ride their own Project-only branch, and the
    tiny hits side — not the corpus-wide totals — must broadcast."""
    df = entry.queries()["contamination_check"](spark, sf001)
    plan = _plan(df)
    # every Project that sits directly above a Generate must be cheap:
    # no array_distinct/transform re-evaluation in post-Generate nodes.
    lines = plan.splitlines()
    gen_depths = []
    for ln in lines:
        stripped = ln.lstrip(" :+-*")
        depth = len(ln) - len(ln.lstrip(" :+-*"))
        if stripped.startswith("Generate "):
            gen_depths.append(depth)
        elif stripped.startswith("Project ") and "array_distinct" in ln:
            # an expensive projection is only legal BELOW every Generate
            # in its branch — i.e. the totals branch, which has none.
            assert not any(d > depth for d in gen_depths) or not gen_depths, (
                "expensive projection above a Generate:\n" + ln
            )
    # the hits side broadcasts; the totals fact branch never does
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_single_exchange(spark, sf001):
    """Packing is one window shuffle partitioned by source shard."""
    plan = _plan(entry.queries()["pack_sequences"](spark, sf001))
    assert plan.count("Exchange") == 1
    assert "Window" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_repetition_profile_zero_exchange(spark, sf001):
    """Per-row repetition metrics are a pure scan projection."""
    plan = _plan(entry.queries()["repetition_profile"](spark, sf001))
    assert _key_exchanges(plan) == 0
    assert "Join" not in plan


def test_pii_scan_zero_exchange(spark, sf001):
    """PII scan is a pure regexp projection over the scan."""
    plan = _plan(entry.queries()["pii_scan"](spark, sf001))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_bucketed_join_no_shuffle_below_smj(spark, sf001):
    """The bucketed-layout join: SortMergeJoin with ZERO exchanges
    beneath it — the bucket layout replaces both shuffles. (Local
    per-partition Sorts may remain: Spark only trusts bucket sort
    metadata with exactly one file per bucket.)"""
    plan = _plan(entry.queries()["bucketed_join"](spark, sf001))
    lines = plan.splitlines()
    smj = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
    assert smj, "expected the merge-hinted bucketed join to plan as SMJ"
    below = lines[smj[0]:]
    assert not any("Exchange" in l for l in below), [
        l.strip()[:70] for l in below if "Exchange" in l
    ]


def test_scd2_filter_pushed_and_single_window_shuffle(spark, sf001):
    """SCD2 intervals: the event_type predicate must reach the parquet
    scan (at 100 TB only the purchase row groups are read), and the
    LEAD window must cost exactly one hash exchange (the trailing
    range exchange is the presentation ORDER BY)."""
    df = entry.queries()["scd2_intervals"](spark, sf001)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_group_sample_topk_partial_window_group_limit(spark, sf001):
    """The fixed-quota sampler must pre-prune BEFORE the shuffle: a
    Partial WindowGroupLimit on the map side bounds shuffle volume at
    map_partitions x strata x k rows regardless of input size — the
    property that makes a k-per-language sample affordable on 100 TB."""
    plan = _plan(entry.queries()["group_sample_topk"](spark, sf001))
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(lang" in l]
    assert partial and exch, "expected Partial WindowGroupLimit and lang exchange"
    # plan prints top-down: the Partial prune must sit BELOW the exchange
    assert partial[0] > exch[0], "map-side prune missing below the shuffle"
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan  # text never read


def test_bm25_no_explode_no_sort(spark, sf001):
    """BM25 must be a pure scan ranking: per-term tf via array HOFs
    (NO Generate), corpus stats as one broadcast single-row agg (the
    only key-less exchange), and the top-k as TakeOrderedAndProject
    (per-partition heaps) — never a global Sort of 100 TB of scores."""
    plan = _plan(entry.queries()["bm25_search"](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    key_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    ]
    assert not key_ex, key_ex


def test_inverted_index_bounded_posting_shuffle(spark, sf001):
    """Index build: per-doc terms dedup map-side (array_distinct
    inside the Generate), and the posting collection is pre-pruned by
    a Partial WindowGroupLimit below its exchange — shuffle volume is
    map_partitions x vocab x p rows even for stopword-frequency
    terms. The df/postings join is vocab-sized -> broadcast."""
    plan = _plan(entry.queries()["inverted_index"](spark, sf001))
    assert "explode(array_distinct(" in plan
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(term" in l]
    assert partial and exch and partial[0] > min(exch)
    assert "BroadcastHashJoin" in plan


def test_domain_mix_rates_broadcast(spark, sf001):
    """The mixture gate: the 5-row rate table must broadcast onto the
    doc scan — the full corpus is never shuffled for the join, only
    partial-agg count rows move."""
    plan = _plan(entry.queries()["domain_mix"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" not in plan


def test_partitioned_prune_reads_only_matching_partition(spark, sf001):
    """The hive-partitioned read-back: the lang predicate must resolve
    against directory metadata (PartitionFilters), never the rows —
    only the matching partition's files are opened. This is the layout
    contract that turns a full-corpus scan into a single-stratum one."""
    import re

    df = entry.queries()["partitioned_prune"](spark, sf001)
    plan = _formatted(df)
    assert re.search(r"PartitionFilters: \[isnotnull\(lang#\d+\), \(lang#\d+ = en\)\]", plan)
    # the partition predicate is metadata-only — it must not appear as
    # a pushed data filter on the row scan
    assert not re.search(r"PushedFilters: \[[^\]]*lang", plan)


def test_unpivot_is_expand_projection(spark, sf001):
    """The wide-to-long reshape must plan as an Expand (map-side row
    multiplication) — zero shuffle for the reshape; the only exchange
    is the 4-group partial agg."""
    plan = _plan(entry.queries()["unpivot_metrics"](spark, sf001))
    assert "Expand" in plan
    assert "Generate" not in plan and "Join" not in plan
    assert _key_exchanges(plan) <= 2  # partial-agg exchange + sort


def test_event_paths_bounded_and_take_ordered(spark, sf001):
    """Path analysis: the first-k restriction must pre-prune map-side
    (Partial WindowGroupLimit below the user shuffle) and the final
    ranking must be TakeOrderedAndProject — never a global sort of
    every path."""
    plan = _plan(entry.queries()["event_paths"](spark, sf001))
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(user_id" in l]
    assert partial and exch and partial[0] > exch[0]
    assert "TakeOrderedAndProject" in plan


def test_hourly_anomaly_stats_broadcast(spark, sf001):
    """The per-type stats row must broadcast back onto the hourly
    counts — the hourly stream is never join-shuffled."""
    plan = _plan(entry.queries()["hourly_anomaly"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_side_quality_and_embedding_audits_single_agg(spark, sf001):
    """quality_gate_sample / embedding_quality are single-scan audits:
    exactly one key-group agg exchange (plus the presentation sort) —
    texts/vectors never enter a shuffle."""
    for name, key in (("quality_gate_sample", "lang"), ("embedding_quality", "label")):
        plan = _plan(entry.queries()[name](spark, sf001))
        assert plan.count(f"Exchange hashpartitioning({key}") == 1, name
        assert "Join" not in plan, name


def test_full_outer_reconcile_is_single_smj(spark, sf001):
    plan = _plan(entry.queries()["full_outer_reconcile"](spark, sf001))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_sorted_layout_key_filter_pushed(spark, sf001):
    """The sorted range-partitioned layout read-back: the key-range
    predicate must reach the parquet scan as PushedFilters, where
    per-file/row-group min-max stats (disjoint ranges by layout) make
    the read touch ~one file."""
    import re

    df = entry.queries()["sorted_layout_prune"](spark, sf001)
    plan = _formatted(df)
    assert re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderkey,1000\)"
        r".*LessThan\(o_orderkey,2000\)", plan
    )


def test_zorder_layout_both_filters_pushed(spark, sf001):
    """The z-ordered layout read-back: BOTH dimension predicates must
    reach the parquet scan as PushedFilters — with the Morton-curve
    clustering, each file's min/max stats are tight on both columns,
    so the conjunctive box predicate prunes files in two dimensions."""
    import re

    df = entry.queries()["zorder_prune"](spark, sf001)
    plan = _formatted(df)
    assert re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderkey,1000\)"
        r".*LessThan\(o_orderkey,5000\)", plan
    )
    assert re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(o_custkey,100\)"
        r".*LessThan\(o_custkey,500\)", plan
    )


def test_fk_audit_key_only_anti_joins(spark, sf001):
    """FK orphan checks: anti-joins move key columns only — no wide
    rows through the shuffle, and lineitem's scan reads exactly its
    key column."""
    plan = _plan(entry.queries()["fk_integrity_audit"](spark, sf001))
    assert "LeftAnti" in plan
    assert "ReadSchema: struct<l_orderkey:bigint>" in _formatted(
        entry.queries()["fk_integrity_audit"](spark, sf001)
    )


def test_table_profile_single_expand_no_reshape_shuffle(spark, sf001):
    """Column profile: stack is an Expand projection feeding ONE
    aggregation — the only exchanges are the agg's own."""
    plan = _plan(entry.queries()["table_profile"](spark, sf001))
    assert "Generate stack" in plan
    assert "Join" not in plan


def test_shuffle_hash_join_no_sort(spark, sf001):
    """SHUFFLE_HASH hint: hash join on the exchange, neither side
    sorts — the whole point of picking it over sort-merge."""
    plan = _plan(entry.queries()["shuffle_hash_join"](spark, sf001))
    assert "ShuffledHashJoin" in plan
    lines = plan.splitlines()
    shj = [i for i, l in enumerate(lines) if "ShuffledHashJoin" in l]
    assert shj
    assert not any("Sort " in l.replace("*", "").strip() for l in lines[shj[0]:])


def test_cdc_apply_anti_join_key_only(spark, sf001):
    """CDC merge: the base table is touched by one LEFT ANTI join."""
    plan = _plan(entry.queries()["cdc_apply"](spark, sf001))
    assert "LeftAnti" in plan


def _plan_nodes(df) -> list[tuple[int, str]]:
    """The physical plan (before AQE) as (depth, node text) rows in
    tree order."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return [
        (len(ln) - len(ln.lstrip(" :+-")), ln.lstrip(" :+-"))
        for ln in plan.splitlines()
        if ln.strip()
    ]


def test_upsert_ranks_only_the_batch(spark, tmp_path):
    """Upsert into an existing parquet table: the latest-by-PK Window
    ranks only the batch, and the table's scan feeds only the PK
    anti-join — the merge never sorts the whole table per batch."""
    from soccerpredictor_spark.sources.upsert import upsert_df

    schema = "id string, odds_company string, v string"
    path = str(tmp_path / "game_odds")
    spark.createDataFrame([("1", "A", "x"), ("2", "B", "y")], schema).write.parquet(path)
    batch = spark.createDataFrame([("1", "A", "z"), ("3", "C", "w")], schema)
    nodes = _plan_nodes(upsert_df(spark.read.parquet(path), batch, ["id", "odds_company"]))

    def subtree(i):
        j = i + 1
        while j < len(nodes) and nodes[j][0] > nodes[i][0]:
            j += 1
        return [n for _, n in nodes[i + 1 : j]]

    windows = [i for i, (_, n) in enumerate(nodes) if n.startswith("Window ")]
    assert len(windows) == 1
    assert not any(n.startswith("FileScan") for n in subtree(windows[0]))
    assert any(n.startswith("Scan ExistingRDD") for n in subtree(windows[0]))
    scans = [i for i, (_, n) in enumerate(nodes) if n.startswith("FileScan parquet")]
    assert len(scans) == 1
    ancestors, depth = [], nodes[scans[0]][0]
    for d, n in reversed(nodes[: scans[0]]):
        if d < depth:
            ancestors.append(n)
            depth = d
    joins = [n for n in ancestors if n.split()[0].endswith("Join")]
    assert len(joins) == 1 and "LeftAnti" in joins[0], joins
    assert not any(n.startswith(("Window", "Sort ", "Exchange")) for n in ancestors), ancestors


def test_doc_sim_knn_df_cap_and_rank_limit(spark, sf001):
    """Sparse kNN: posting join bounded by the df cap (a HAVING-style
    filter on the shingle-frequency agg) and the output bounded by a
    rank window — no cartesian, no unbounded fan-out."""
    plan = _plan(entry.queries()["doc_sim_knn"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_onehot_is_pure_projection(spark, sf001):
    """Closed-domain one-hot: CASE projection over the scan; the only
    exchange is the output ordering."""
    plan = _plan(entry.queries()["onehot_encode"](spark, sf001))
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_robust_scale_broadcasts_stats(spark, sf001):
    """Percentile stats are a tiny per-type table broadcast onto the
    row stream — the event stream itself never join-shuffles."""
    plan = _plan(entry.queries()["robust_scale"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_date_spine_no_fact_reshuffle(spark, sf001):
    """Calendar gap fill: daily agg is the only event-stream shuffle;
    the spine side joins broadcast (dimension-sized)."""
    plan = _plan(entry.queries()["date_spine_fill"](spark, sf001))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_media_dedup_blobs_never_shuffle(spark, sf001):
    """Media dedup: the payload md5 is computed scan-side; only the
    hash + metadata columns reach the aggregation exchange."""
    df = entry.queries()["media_dedup"](spark, sf001)
    plan = _plan(df)
    lines = plan.splitlines()
    ex = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert ex, "expected the groupBy exchange"
    # no binary 'payload' attribute may appear at/above the exchange
    for l in lines[: ex[0] + 1]:
        assert "payload#" not in l, l


def test_tpch_q2_broadcasts_dims_no_cartesian(spark, sf001):
    """q2: region->nation->supplier and the part-attribute filter all
    broadcast into the synthesized partsupp; the per-part MIN resolves
    via one aggregation + equi-join (no correlated re-scan, no
    cartesian), and top-100 plans as TakeOrderedAndProject."""
    plan = _plan(entry.queries()["tpch_q2"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q11_single_partkey_shuffle(spark, sf001):
    """q11: the nation total is a 1-row broadcast onto the per-part
    aggregate — no second shuffle of partsupp, no cartesian blowup
    (the scalar crossJoin plans as a broadcast nested loop over ONE
    row)."""
    plan = _plan(entry.queries()["tpch_q11"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q16_anti_join_then_distinct_agg(spark, sf001):
    """q16: supplier blocklist applies as a broadcast LEFT ANTI join
    and part attributes broadcast — the only key shuffle carries the
    (brand, type, size) distinct-count aggregation."""
    plan = _plan(entry.queries()["tpch_q16"](spark, sf001))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q20_single_lineitem_scan(spark, sf001):
    """q20: ONE scan of lineitem (the availqty of the observed pair is
    evaluated in place — no join against a materialized partsupp), the
    shipdate range pushed to the scan, part keys broadcast in."""
    df = entry.queries()["tpch_q20"](spark, sf001)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan
    fmt = _formatted(df)
    assert "GreaterThanOrEqual(l_shipdate" in fmt


def test_target_encode_broadcast_prior_no_smj(spark, sf001):
    """Target encoding: (feature, category) agg + a 1-row broadcast
    prior — the fact table never sort-merge-joins and nothing goes
    cartesian (the scalar crossJoin is a broadcast over ONE row)."""
    plan = _plan(entry.queries()["target_encode"](spark, sf001))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_novelty_min_agg_no_pair_fanout(spark, sf001):
    """Novelty scoring: first-occurrence via map-side-combinable MIN
    per shingle, then one equi-join back — a per-document score with
    NO candidate-pair generation (no self-join fan-out, no cartesian,
    no Python eval)."""
    plan = _plan(entry.queries()["ngram_novelty"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_quantile_bins_no_global_sort(spark, sf001):
    """Quantile discretization: decile edges from ONE aggregation
    broadcast onto the rows — no ntile window, no global sort of the
    fact table (the single-partition ranking shape this operator
    exists to avoid)."""
    df = entry.queries()["quantile_bins"](spark, sf001)
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_chi2_cells_broadcast_marginals(spark, sf001):
    """Chi-square cells: marginals attach as broadcast-sized joins;
    nothing sort-merges and nothing goes cartesian (the scalar n is a
    1-row broadcast)."""
    plan = _plan(entry.queries()["chi2_association"](spark, sf001))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_corpus_text_never_moves(spark, sf001):
    """Incremental dedup: the corpus collapses to DISTINCT
    fingerprints before the membership join — no text column crosses
    an exchange (only doc_id/fp/bucket), and the batch-side window is
    keyed on the same uniform hash."""
    df = entry.queries()["incremental_dedup"](spark, sf001)
    plan = _plan(df)
    lines = plan.splitlines()
    ex = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert ex
    for i in ex:
        assert "text#" not in lines[i], lines[i]


def test_knn_graph_rank_bounded_no_cartesian(spark, sf001):
    """kNN graph: LSH-candidate pairs only (no cartesian), output
    count-bounded by the per-source rank window."""
    plan = _plan(entry.queries()["knn_graph"](spark, sf001))
    assert "CartesianProduct" not in plan


def test_embedding_outliers_broadcast_sums_single_vec_shuffle(spark, sf001):
    """Per-label outliers: the (label, dim) sums table broadcasts onto
    the pos-exploded rows; the numerator is a map-side-combinable
    decimal sum keyed on vec_id — no sort-merge join, no cartesian."""
    plan = _plan(entry.queries()["embedding_outliers"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_join(spark, sf001):
    """Interval x interval overlap, bucketized to hour grain: the
    session x busy-window join is a plain EQUI-join on the hour key
    (BroadcastHashJoin here — busy hours are dimension-sized), never
    an inequality-pair join or cartesian. The only nested-loop node
    permitted is the 1-ROW scalar broadcast of the busy-threshold
    totals (build side = one aggregate row)."""
    plan = _plan(entry.queries()["interval_overlap_join"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # any BNLJ must be the scalar-threshold cross join, not the
    # interval pairing: it builds on a 1-row aggregate subtree
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" in ln:
            below = "\n".join(lines[i : i + 12])
            assert "HashAggregate" in below, f"unexpected BNLJ shape:\n{below}"


# --------------------------------------------------------------------------
# round-7 additions: graph / time-series / text / ml-eval
# --------------------------------------------------------------------------


def test_coactivity_no_allpairs_no_python(spark, sf001):
    """Co-activity edges: pair generation is an equi-join on the
    (event_type, bucket) key over the CAPPED bucket rows — no
    cartesian, no nested-loop pairing, no Python eval; the fact table
    is distinct-projected before anything fans out."""
    plan = _plan(entry.queries()["graph_coactivity"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_int64_no_cartesian(spark, sf001):
    """PageRank: three join+agg rounds over the edge list; the only
    nested-loop node permitted is the 1-row node-count broadcast. No
    cartesian, no Python."""
    df = entry.queries()["graph_pagerank"](spark, sf001)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # rank column stays integral end-to-end (exact cross-engine sums)
    assert dict(df.dtypes)["rank_micro"] == "bigint"


def test_triangles_oriented_wedges_all_equi_joins(spark, sf001):
    """Triangle census: the degree orientation, the wedge join and
    the closing check are ALL equi-joins (u / v / src / (b,c)) —
    nothing goes cartesian or nested-loop. The degree table carries
    one row per NODE (graph-scaled), so it is deliberately NOT
    hint-broadcast: AQE broadcasts it when the measured size is
    small and shuffles when it isn't (the curate_corpus_write
    loser-id lesson, applied here in round 19)."""
    plan = _plan(entry.queries()["graph_triangles"](spark, sf001))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the 1-row census cross-combines
    # (n_nodes x n_edges x n_triangles); every keyed join stays hash
    import re as _re

    bnlj = _re.findall(r"BroadcastNestedLoopJoin [^,]*, (\w+)", plan)
    assert all(t == "Cross" for t in bnlj), bnlj


def test_autocorr_single_scan_stack(spark, sf001):
    """Autocorrelation: ALL lags aggregate from ONE pass over one
    window projection (the stack generator) — the events scan appears
    once, not once per lag."""
    df = entry.queries()["autocorr_lag"](spark, sf001)
    plan = _plan(df)
    assert plan.count("events.parquet") == 1
    assert "Generate" in plan  # the stack() unpivot
    assert "CartesianProduct" not in plan


def test_cusum_single_window_broadcast_totals(spark, sf001):
    """CUSUM: one window pass for prefixes, per-type totals broadcast
    back; the scaled statistic stays integral (exact cross-engine)."""
    df = entry.queries()["cusum_changepoint"](spark, sf001)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert dict(df.dtypes)["cusum_scaled"] == "bigint"


def test_ewma_no_join_single_window(spark, sf001):
    """Truncated EWMA: a pure lag-chain projection — no join anywhere
    in the plan, one hourly aggregation exchange plus the window
    sort."""
    plan = _plan(entry.queries()["ewma_window"](spark, sf001))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_naive_no_join(spark, sf001):
    """Seasonal-naive error: hourly agg + one lag window + per-type
    agg; joins never appear."""
    plan = _plan(entry.queries()["seasonal_naive_error"](spark, sf001))
    assert "Join" not in plan


def test_pmi_topk_heap_no_smj(spark, sf001):
    """PMI collocations: unigram/total sides broadcast; top-k plans
    as TakeOrderedAndProject (per-partition heaps), never a global
    sort; no sort-merge join of the pair stream."""
    plan = _plan(entry.queries()["pmi_collocations"](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keyword_extract_broadcast_stats(spark, sf001):
    """Group keywords: corpus/group term tables broadcast onto the
    (lang, term) counts; the rank window partitions by lang — no
    global sort, no sort-merge join."""
    plan = _plan(entry.queries()["keyword_extract"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_lm_rank_bounded(spark, sf001):
    """Bigram LM: context totals broadcast; output is bounded by the
    per-context rank window (WindowGroupLimit pushes the top-k into
    the shuffle)."""
    plan = _plan(entry.queries()["bigram_lm"](spark, sf001))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_prf_from_confusion_no_python(spark, sf001):
    """P/R/F1: derived entirely from the tiny confusion table; the
    corpus is scanned once (per-language hit counts in one
    projection) and no Python eval appears."""
    df = entry.queries()["prf_metrics"](spark, sf001)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_heap_not_sort(spark, sf001):
    """Priority sampling: top-k by md5-derived priority plans as
    TakeOrderedAndProject — per-partition heaps, no global sort, no
    shuffle of the document text."""
    plan = _plan(entry.queries()["weighted_sample"](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_kfold_pure_projection_one_agg(spark, sf001):
    """K-fold assignment: md5 bucket is a scan-side projection; the
    only exchange is the (fold, label) count aggregation; no joins,
    no windows."""
    plan = _plan(entry.queries()["kfold_assign"](spark, sf001))
    assert "Join" not in plan
    assert "Window" not in plan


def test_decile_lift_no_global_ntile(spark, sf001):
    """Lift table: deciles come from percentile_disc edges broadcast
    onto the rows (the quantile_bins shape) — NO ntile/global-sort
    window over the fact table; the only window is the 10-row
    cumulative sum."""
    df = entry.queries()["decile_lift"](spark, sf001)
    plan = _plan(df)
    # the fact-table side must not be globally sorted: any Window in
    # the plan operates AFTER the per-decile aggregation (10 rows)
    assert "ntile(" not in plan.lower().replace("percentile", "")
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_variant_blocked(spark, sf001):
    """Fuzzy token join: candidates come from the deletion-variant
    equi-join (complete for dist<=1 by construction) — no cartesian
    pairing of the vocabulary, no Python eval; levenshtein runs only
    on candidates."""
    plan = _plan(entry.queries()["fuzzy_token_pairs"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_degree_stats_two_aggs_only(spark, sf001):
    """Degree histogram: edge list -> degree agg -> histogram agg;
    no extra joins beyond the edge construction, no Python."""
    plan = _plan(entry.queries()["graph_degree_stats"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_topk_projection_only_heap(spark, sf001):
    """PQ/ADC: codebook + query are single-row broadcasts; encoding
    and the ADC sum are scan-side projections (no shuffle of the
    vector table); top-k plans as TakeOrderedAndProject; exact cosine
    reranks only the k survivors (after the heap, not before)."""
    df = entry.queries()["ann_pq_topk"](spark, sf001)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert dict(df.dtypes)["approx_dist"] == "bigint"


def test_graph_components_bounded_pairs(spark, sf001):
    """Components run on the thresholded (recurring) edge list via the
    checkpointed pair set — the iterative loop never embeds the
    bucket-join subtree (flat cached scan), and nothing goes
    cartesian."""
    plan = _plan(entry.queries()["graph_components"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "events.parquet" not in plan  # loop reads the checkpoint


def test_winsorize_broadcast_edges_zero_fact_shuffle(spark, sf001):
    """Winsorize: per-group percentile edges broadcast back; the fact
    table itself never hash-shuffles (the only exchange feeds the
    5-row stats aggregation)."""
    df = entry.queries()["winsorize"](spark, sf001)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_window_over_vocab_only(spark, sf001):
    """Vocab coverage: the ranking window runs over the AGGREGATED
    term table (vocabulary-sized), never the exploded token stream —
    the window's child must be the count aggregate."""
    plan = _plan(entry.queries()["vocab_coverage"](spark, sf001))
    lines = plan.splitlines()
    widx = [i for i, l in enumerate(lines) if "Window" in l]
    assert widx, "expected the rank window"
    below = "\n".join(lines[widx[-1]:])
    assert "HashAggregate" in below
    assert "CartesianProduct" not in plan


def test_hourly_profile_single_agg_tiny_window(spark, sf001):
    """Hour-of-day profile: one (type, hour) aggregation; the share
    window partitions the 24x|types| aggregate, no joins."""
    plan = _plan(entry.queries()["hourly_profile"](spark, sf001))
    assert "Join" not in plan


def test_rolling_distinct_single_fact_pass(spark, sf001):
    """Trailing-7d distinct: the event stream collapses to distinct
    (day, user) ONCE; the window fan-out explodes only the daily
    table. events.parquet appears at most twice in the plan (7d + 1d
    legs share the distinct subtree or re-scan the pruned columns),
    and no cartesian/python appears."""
    df = entry.queries()["rolling_distinct"](spark, sf001)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_shift_decimal_exact_tiny_join(spark, sf001):
    """Centroid drift: one pos-exploded aggregation; the halves join
    label-keyed over labels x dims rows (tiny); vectors shuffle once.
    No sort-merge join of the fact table, no Python."""
    plan = _plan(entry.queries()["centroid_shift"](spark, sf001))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_benford_no_runtime_log(spark, sf001):
    """Benford audit: expected probabilities are embedded literals —
    no LOG/LOG10 function anywhere in the plan (libm-dependence), one
    9-key aggregation, 1-row total broadcast."""
    plan = _plan(entry.queries()["benford_check"](spark, sf001))
    assert "LOG" not in plan.upper().replace("CATALOG", "")
    assert "SortMergeJoin" not in plan


def test_weekly_change_single_rollup(spark, sf001):
    """WoW change: one weekly rollup shuffle + a series-sized lag
    window; no joins."""
    plan = _plan(entry.queries()["weekly_change"](spark, sf001))
    assert "Join" not in plan


def test_session_histogram_composes_sessionize(spark, sf001):
    """Session-duration histogram: the session_window pass is the only
    user-keyed shuffle; the histogram itself is a tiny-key agg; exact
    integer bucket arithmetic (bigint)."""
    df = entry.queries()["session_duration_histogram"](spark, sf001)
    plan = _plan(df)
    assert "SessionWindow" in plan or "session_window" in plan
    assert dict(df.dtypes)["bucket_min"] == "bigint"


def test_media_chunk_dedup_blobs_never_shuffle(spark, sf001):
    """Chunk-level media dedup: chunk md5s are computed scan-side —
    the binary payload column must not appear at or above any
    exchange (the media_dedup discipline), and candidates come from
    the capped equi-join (no cartesian)."""
    df = entry.queries()["media_chunk_dedup"](spark, sf001)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    ex = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert ex
    for i in ex:
        assert "payload#" not in lines[i], lines[i]


def test_bloom_probe_broadcast_filter_no_smj(spark, sf001):
    """Bloom probe: the filter (distinct bit positions, <= m rows) and
    the truth set reach the probe via broadcast joins — the probe
    table itself is never sort-merge joined; the only key shuffles are
    the build/probe distincts and the per-key hit count."""
    plan = _plan(entry.queries()["bloom_probe"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_cms_broadcast_grid_heap_topk(spark, sf001):
    """CMS heavy hitters: the d*w counter grid joins back broadcast
    (never a shuffle of the exploded key table), and the top-k is a
    TakeOrdered heap, not a global sort."""
    plan = _plan(entry.queries()["heavy_hitters_cms"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_link_prediction_hub_capped_no_cartesian(spark, sf001):
    """Link prediction: wedges come from the hub-capped self-join on
    the shared node (degree filter broadcast onto the edge list) over
    the CHECKPOINTED edge list — the plan never re-embeds the raw
    events scan, nothing goes cartesian, and the top-k is a heap."""
    plan = _plan(entry.queries()["link_prediction"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "events.parquet" not in plan  # reads the edge checkpoint
    assert "TakeOrderedAndProject" in plan


def test_roc_auc_partitioned_prefix_sum(spark, sf001):
    """Exact AUC: the per-score cumulative window is PARTITIONED by
    the score bucket (parallel prefix sum) — only the bucket-total
    window is global, over one row per bucket; the bucket cums join
    back broadcast."""
    plan = _plan(entry.queries()["roc_auc"](spark, sf001))
    # the row-scale window carries the bucket partition spec
    assert "windowspecdefinition(bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skyline_prune_before_global_window(spark, sf001):
    """Skyline: the bucket prune (broadcast join of the bucket-level
    running max) must sit BELOW the global range window, so the
    global sort sees only near-frontier survivors; no self-join of
    the customer aggregate, nothing cartesian."""
    plan = _plan(entry.queries()["skyline_pareto"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    bhj = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    # the global dominance window (specified range frame) sits above
    # the prune join in the tree (smaller line index = nearer the root)
    win = [i for i, l in enumerate(lines) if "specifiedwindowframe(RangeFrame" in l]
    assert win and bhj and min(win) < max(bhj)


def test_subsample_ci_one_scan_one_fanout(spark, sf001):
    """Bootstrap CI: the 32 replicates AND the point estimate ride ONE
    scan + ONE broadcast fan-out over the 33-row rep index; the
    summary is a window over the 33-row aggregate, never a second
    aggregation branch (which would re-scan the fact table)."""
    plan = _plan(entry.queries()["subsample_ci"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan


def test_grouped_ols_broadcast_dims_single_agg(spark, sf001):
    """Per-nation OLS: both dimension joins broadcast, all six
    sufficient statistics come from ONE map-side-combinable
    aggregation — the fact table shuffles once, on the group key."""
    plan = _plan(entry.queries()["grouped_ols"](spark, sf001))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 3  # orders + 2 dims


def test_ndcg_custkey_partitioned_window_broadcast_discounts(spark, sf001):
    """NDCG@10: rank is a per-customer window (bounded partitions, no
    global sort), the 10-row discount ladder joins broadcast."""
    plan = _plan(entry.queries()["ndcg_at_k"](spark, sf001))
    assert "windowspecdefinition(o_custkey" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_conformal_broadcast_model_and_qhat(spark, sf001):
    """Split conformal: the per-priority predictor and the 1-row qhat
    both join broadcast; no shuffle join of the fact table against
    itself."""
    plan = _plan(entry.queries()["conformal_interval"](spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row qhat cross join
    assert "SortMergeJoin" not in plan


def test_ab_ztest_single_user_shuffle(spark, sf001):
    """A/B z-test: one shuffle keyed by user, then O(1)-state arms —
    the arm split/cross-join touches 2 rows, never the event stream."""
    plan = _plan(entry.queries()["ab_test_ztest"](spark, sf001))
    assert plan.count("FileScan") == 1  # arm branches share one pass
    assert plan.count("hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_attribution_one_user_window_pass(spark, sf001):
    """Last-touch attribution: ONE user-partitioned window pass carries
    both the source timestamp and type (two last(ignorenulls) columns
    over the same frame); no self-join of events against events."""
    plan = _plan(entry.queries()["attribution"](spark, sf001))
    assert plan.count("windowspecdefinition(user_id") >= 1
    assert "Join" not in plan  # window-only, zero joins
    assert plan.count("FileScan") == 1


def test_corr_matrix_single_scan_inline_cells(spark, sf001):
    """Correlation matrix: every sufficient statistic from ONE scan +
    ONE aggregation; the 6 upper-triangle cells inline from the single
    stats row. A per-cell union would scan the fact table 6 times."""
    plan = _plan(entry.queries()["corr_matrix"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") == 2  # partial + final, once
    assert "Generate" in plan  # inline(array<struct>) cell expansion


def test_text_canonicalize_projection_then_tiny_agg(spark, sf001):
    """Canonicalization audit: the canonical text is a scan-side
    projection (regexp chain, no Python) feeding one tiny-key
    aggregation; the distinct counts ride Expand, not extra scans."""
    plan = _plan(entry.queries()["text_canonicalize"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan
    assert "Expand" in plan  # two countDistincts share one pass


def test_label_vote_pure_projection_single_agg(spark, sf001):
    """Weak-supervision vote: all three labeling functions are integer
    scan projections; one aggregation, no Python, no joins."""
    plan = _plan(entry.queries()["label_vote"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    # groupBy(source) + the output-order rangepartitioning only
    assert plan.count("hashpartitioning(") == 1


def test_calibration_bins_single_scan_tiny_agg(spark, sf001):
    """Calibration: bin membership is scan-side integer arithmetic
    feeding a 10-key map-side-combinable aggregation — one scan, no
    joins, no Python."""
    plan = _plan(entry.queries()["calibration_bins"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_ks_drift_bucket_partitioned_prefix(spark, sf001):
    """KS: the row-scale prefix window is PARTITIONED by the value
    bucket (parallel prefix sum, the roc_auc shape); the bucket cums
    join back broadcast; no global sort over row-scale data."""
    plan = _plan(entry.queries()["ks_drift"](spark, sf001))
    assert "windowspecdefinition(bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ips_single_scan_o1_state(spark, sf001):
    """IPS/SNIPS: one scan, one O(1)-state aggregation, zero joins —
    the match indicator and reward are scan projections."""
    plan = _plan(entry.queries()["ips_policy_eval"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "PushedFilters: [In(event_type" in _formatted(
        entry.queries()["ips_policy_eval"](spark, sf001)
    )


def test_negative_sampling_union_tag_no_double_positives(spark, sf001):
    """Negative sampling: the anti-join is the union-tag aggregation,
    so the positives subtree (orders ⋈ lineitem) appears ONCE — no
    SMJ, the item-domain size is a 1-row broadcast."""
    plan = _plan(entry.queries()["negative_sampling"](spark, sf001))
    assert plan.count("FileScan parquet") <= 4  # orders x2 + lineitem + part
    assert plan.count("Union") == 1
    assert "SortMergeJoin" not in plan


def test_twap_window_then_agg_one_user_shuffle(spark, sf001):
    """TWAP: the lead window and the user aggregation share the
    user_id hash partitioning — the fact table shuffles once."""
    plan = _plan(entry.queries()["time_weighted_average"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_rfm_broadcast_edges_tiny_rollup(spark, sf001):
    """RFM: quartile edges are a 1-row broadcast against the
    per-customer table; the segment rollup is a <=64-key agg; no SMJ."""
    plan = _plan(entry.queries()["rfm_segments"](spark, sf001))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row edges cross join
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") == 2  # per_cust + edges branches


def test_simpson_counts_only_shuffle(spark, sf001):
    """Simpson diversity: one explode pass; the (source, token) agg is
    map-side combinable and only counts shuffle — never text; no
    Python, no joins."""
    plan = _plan(entry.queries()["simpson_diversity"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan
    assert "Generate explode" in plan


def test_edit_distance_join_variant_blocked(spark, sf001):
    """FastSS join: candidates come from an equi-join on the deletion
    variant (never a cartesian/levenshtein-everywhere pass); the
    verify filter touches only candidate pairs."""
    plan = _plan(entry.queries()["edit_distance_join"](spark, sf001))
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    # the candidate join is keyed on the deletion variant (broadcast
    # at fixture scale, shuffle at corpus scale — either is variant-keyed)
    assert "Join [variant" in plan


def test_basket_rules_order_keyed_pairs_broadcast_topk(spark, sf001):
    """Basket rules: the pair self-join is keyed on the ORDER (bounded
    baskets), the top-K pair set joins the item counts BROADCAST, and
    the corpus size is a 1-row broadcast — the item-count table never
    shuffles into a join."""
    plan = _plan(entry.queries()["basket_rules"](spark, sf001))
    assert "hashpartitioning(oid" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # self-join + 2 top-K joins
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_interval_merge_single_window_pass_no_self_join(spark, sf001):
    """Islands & gaps: the island id comes from ONE user-keyed ordered
    window pass — never an interval self-join; the rollups reuse the
    user partitioning."""
    plan = _plan(entry.queries()["interval_merge"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "windowspecdefinition(user_id" in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_linear_interpolate_union_window_no_range_join(spark, sf001):
    """Grid interpolation: surrounding observations attach via the
    union + last/first(ignorenulls) window trick — no range self-join,
    no cartesian; the grid explode is zero-shuffle."""
    plan = _plan(entry.queries()["linear_interpolate"](spark, sf001))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Union" in plan
    assert "windowspecdefinition(user_id" in plan


def test_rrf_two_windows_one_customer_shuffle(spark, sf001):
    """RRF: both rankings are windows over the SAME customer
    partitioning — one shuffle, two in-partition sorts, no join."""
    plan = _plan(entry.queries()["rrf_fusion"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert plan.count("hashpartitioning(o_custkey") == 1


def test_tokenizer_fertility_pure_projection(spark, sf001):
    """Fertility: regexp projections into a tiny-key agg; one scan,
    no Python, no joins."""
    plan = _plan(entry.queries()["tokenizer_fertility"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_media_scene_segments_blobs_stay_in_decode(spark, sf001):
    """Scene segmentation: payload bytes enter the Arrow decode stage
    and only (media_id, fingerprint) leaves it; the frame fan-out is a
    zero-shuffle explode and the boundary pass is one media-keyed
    window."""
    plan = _plan(entry.queries()["media_scene_segments"](spark, sf001))
    assert "MapInPandas" in plan
    assert "windowspecdefinition(media_id" in plan
    # no exchange may carry the payload column
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "payload" not in ln


def test_snapshot_diff_single_pk_join_hash_only_shuffle(spark, sf001):
    """Snapshot diff: ONE full-outer join keyed on the PK; the row
    fingerprint is computed scan-side so the exchange carries
    (pk, hash), never payload columns."""
    plan = _plan(entry.queries()["snapshot_diff"](spark, sf001))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "FullOuter" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "o_orderstatus" not in ln and "cents" not in ln


def test_delta_attribution_one_scan_tiny_window(spark, sf001):
    """Delta attribution: one scan, one tiny-key agg; the topline
    total rides a window over the per-type rows, not a second scan."""
    plan = _plan(entry.queries()["delta_attribution"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_pca_power_gram_mapside_then_broadcast(spark, sf001):
    """PCA power: the d^2 Gram aggregation is map-side combinable
    (partial HashAggregate under the explode) and everything after it
    joins broadcast — no SMJ, no cartesian."""
    plan = _plan(entry.queries()["embedding_pca_power"](spark, sf001))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # s_i, s_j, v1
    assert "Generate posexplode" in plan


def test_pii_redact_projection_only(spark, sf001):
    """Redaction is a scan-side regexp projection chain into one
    tiny-key agg: one scan, no joins, no Python, and no exchange
    carries the (redacted) text."""
    plan = _plan(entry.queries()["pii_redact"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln


# --------------------------------------------------------------------------
# round-9 additions
# --------------------------------------------------------------------------


def test_perplexity_filter_type_keyed_join_broadcast_median(spark, sf001):
    """The per-occurrence join is keyed by (x, y) against the
    vocabulary-bounded type table; the median arrives as a broadcast
    1-row scalar; ctx/vocab sides broadcast. Document text never
    rides an exchange (only two-word bigram rows shuffle)."""
    plan = _plan(entry.queries()["perplexity_filter"](spark, sf001))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 3  # ctx, vocab, median
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln


def test_pr_auc_bucketed_prefix_no_global_row_sort(spark, sf001):
    """The AP prefix sums run bucket-partitioned; only per-bucket
    totals and the distinct-score term list cross a single-partition
    boundary — never row-scale data."""
    plan = _plan(entry.queries()["pr_auc"](spark, sf001))
    # the two bucket-partitioned windows + the tiny global ones
    assert "hashpartitioning(bucket" in plan
    assert "BatchEvalPython" not in plan


def test_decision_stump_one_scan_take_ordered(spark, sf001):
    """All thresholds are evaluated from ONE orders scan (the
    distinct-score table is checkpointed before its three consumers);
    the argmax is a distributed TakeOrdered, not a global sort."""
    plan = _plan(entry.queries()["decision_stump"](spark, sf001))
    # the distinct-score table is checkpointed at build time: the fact scan ran ONCE during
    # materialization, and the query plan reads the flat handle
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan


def test_kaplan_meier_user_agg_then_lifetime_sized(spark, sf001):
    """One user-keyed aggregation over events collapses to the
    checkpointed hour-grid cell table; everything after is
    lifetime-grid-sized (suffix window + fold). The events fact scan
    runs once."""
    plan = _plan(entry.queries()["kaplan_meier"](spark, sf001))
    # the hour-grid cell table is checkpointed at build time: the fact scan ran ONCE during
    # materialization, and the query plan reads the flat handle
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan


def test_cohen_kappa_confusion_sized_arithmetic(spark, sf001):
    """One corpus pass builds the confusion cells; marginal products
    and totals are label-count-sized with broadcast joins only."""
    plan = _plan(entry.queries()["cohen_kappa"](spark, sf001))
    # the confusion table is checkpointed at build time: the fact scan ran ONCE during
    # materialization, and the query plan reads the flat handle
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_hll_distinct_register_bounded_shuffle(spark, sf001):
    """The register table shuffles at most m rows per partition
    (map-side-combined max); no join in the sketch path; the only
    joins are the broadcast audit crossJoin."""
    plan = _plan(entry.queries()["hll_distinct"](spark, sf001))
    assert "SortMergeJoin" not in plan
    assert "partial_max" in plan  # map-side combine of registers


def test_temperature_mix_single_count_agg(spark, sf001):
    """One source-keyed count aggregation; weights/shares/quotas are
    mixture-sized broadcast arithmetic."""
    plan = _plan(entry.queries()["temperature_mix"](spark, sf001))
    # the count table is checkpointed at build time: the fact scan ran ONCE during
    # materialization, and the query plan reads the flat handle
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_url_dedup_projection_then_group(spark, sf001):
    """Canonicalization is a scan-side regexp projection chain (no
    UDF, no join); one groupBy on the canonical key."""
    plan = _plan(entry.queries()["url_dedup"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_media_phash_neardup_hashes_only_shuffle(spark, sf001):
    """Payload bytes stay inside the Arrow decode stage: every
    exchange after the kernel carries only (media_id, phash, band)
    integers — never the payload."""
    plan = _plan(entry.queries()["media_phash_neardup"](spark, sf001))
    assert "MapInPandas" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "payload" not in ln


def test_export_roundtrip_aggregate_pushdown(spark, sf001):
    """The export leg aggregates before the driver-side collect; the
    read-back is a local relation (the export is small by contract)."""
    plan = _plan(entry.queries()["export_roundtrip"](spark, sf001))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_graph_bfs_frontier_reads_checkpoints(spark, sf001):
    """The converged distance table is a checkpointed flat handle
    (each round's plan was cut); no row-Python anywhere."""
    plan = _plan(entry.queries()["graph_bfs"](spark, sf001))
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan


def test_mutual_knn_reciprocity_join_on_checkpointed_graph(spark, sf001):
    """The reciprocity self-join runs over knn_graph's checkpointed
    undirected edge list — the Arrow sketch kernel never re-runs in
    this plan (it ran once at sketch-cache build)."""
    plan = _plan(entry.queries()["mutual_knn"](spark, sf001))
    assert "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_item_cf_basket_bounded_pair_join(spark, sf001):
    """Pair generation self-joins on the ORDER key (basket-bounded)
    over the ONE checkpointed distinct-items table (its four
    consumers read the flat handle — zero parquet re-scans); item
    counts join broadcast."""
    plan = _plan(entry.queries()["item_cf"](spark, sf001))
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_seasonal_decompose_checkpointed_series(spark, sf001):
    """The trended series (hours-sized) is checkpointed before its
    two consumers; the seasonal table joins back broadcast."""
    plan = _plan(entry.queries()["seasonal_decompose"](spark, sf001))
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_cms_merge_audit_grid_bounded(spark, sf001):
    """Both grids aggregate with map-side combine (partial_sum);
    the comparison join is grid-bounded, never key-scale."""
    plan = _plan(entry.queries()["cms_merge_audit"](spark, sf001))
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_quantile_normalize_stacked_single_scan(spark, sf001):
    """All three features rank in ONE pass over one stacked scan —
    never a per-feature re-scan. Round-10 shape: the n-row
    ``ranked JOIN rank_means ON rnk`` equi-join (the engine's
    heaviest warm cell in r9) is gone — per-feature extremes come
    from rank_means range-joined BROADCAST against the <=96-row
    bucket table, the bucket lookup is a literal codegen'd CASE tree
    (no interpreted HOF over the edge array), and the shared window
    subtree is deduplicated at runtime by AQE ReuseExchange (so no
    checkpoint either)."""
    df = entry.queries()["quantile_normalize"](spark, sf001)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    # the rank->bucket range join broadcasts the tiny side
    assert "BroadcastNestedLoopJoin" in plan
    # no interpreted higher-order filter in the hot path
    assert "ArrayFilter" not in plan and "lambdafunction" not in plan
    # runtime dedup: the window exchange is computed once and reused
    df.collect()
    post = _plan(df)
    assert "ReusedExchange" in post, post


def test_jl_projection_zero_shuffle_projection(spark, sf001):
    """The 16 projected coordinates are scan-side HOF arithmetic; the
    audit join is the id-chain equi-join — no Python, no vector
    shuffle beyond the join keys."""
    plan = _plan(entry.queries()["jl_projection"](spark, sf001))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zipf_audit_take_ordered_topk(spark, sf001):
    """Vocabulary top-K lands via a distributed TakeOrdered heap; the
    rank window runs over K rows only."""
    plan = _plan(entry.queries()["zipf_audit"](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_cluster_labels_gated_before_tokenize(spark, sf001):
    """Only multi-doc clusters' documents are tokenized (the size
    gate precedes the explode); the CC labels come from the cached
    checkpoint (no LSH re-run in this plan)."""
    plan = _plan(entry.queries()["cluster_labels"](spark, sf001))
    assert "Scan ExistingRDD" in plan  # cached CC labels
    assert "BatchEvalPython" not in plan


def test_concurrency_profile_bucketed_prefix(spark, sf001):
    """The sweep-line running sum is bucket-partitioned (two-level
    prefix); the delta stream is checkpointed (one events scan at
    build); the carry joins back broadcast."""
    plan = _plan(entry.queries()["concurrency_profile"](spark, sf001))
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "hashpartitioning(bkt" in plan
    assert "BroadcastHashJoin" in plan


def test_conversion_lag_single_scan_single_window(spark, sf001):
    """One events scan with the type filter pushed down; one
    user-keyed window; the share total runs over the tiny bucket
    table only."""
    plan = _plan(entry.queries()["conversion_lag"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_recall_eval_zero_vector_shuffle(spark, sf001):
    """Both rankings build as TakeOrdered shapes and are CHECKPOINTED
    (round-16: each k-row set has two consumers — the hit join and
    its own count — so the final plan reads two pins instead of
    re-running the corpus TakeOrdered per consumer); no sort-merge
    join and no Python anywhere."""
    plan = _plan(entry.queries()["ivf_recall_eval"](spark, sf001))
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_substring_dedup_single_scan_no_joins(spark, sf001):
    """Exact repeated-substring dedup is ONE scan -> explode ->
    count-window on fingerprint -> per-doc islands: no gram
    self-join, no Python, exactly one file scan (the corpus never
    reads twice and candidates never pair up)."""
    plan = _plan(entry.queries()["substring_dedup"](spark, sf001))
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_curate_family_shares_pinned_verdict(spark, sf001):
    """Round-19: the capstone family materializes the SLIM verdict
    table once per (session, corpus plan, min_stopwords) — after any
    member builds, the other members' registered plans read pinned
    checkpoints (no parquet re-scan of documents), and clearing the
    caches rebuilds to identical results."""
    from soccerpredictor_spark.operators import textops
    from soccerpredictor_spark.operators.scale import clear_caches

    clear_caches()
    funnel_cold = (
        entry.queries()["curate_funnel_by_source"](spark, sf001)
        .toPandas()
    )
    # the build populated both family entries: verdict + per_src
    keys = {k[1][0] for k in textops._CURATE_CACHE}
    assert keys == {"verdict", "per_src"}, keys
    # warm members build without touching parquet: every scan in the
    # registered plans is a checkpoint handle
    for name in ("curate_corpus", "curate_funnel_by_source"):
        plan = _plan(entry.queries()[name](spark, sf001))
        assert "FileScan" not in plan, name
        assert "Scan ExistingRDD" in plan, name
    # and a cleared cache rebuilds to the identical result
    clear_caches()
    funnel_rebuilt = (
        entry.queries()["curate_funnel_by_source"](spark, sf001)
        .toPandas()
    )
    assert funnel_cold.equals(funnel_rebuilt)


def test_bpe_family_shares_pinned_loop(spark, sf001):
    """Round-19: the BPE merge loop (corpus tokenize + capped vocab +
    10 driver-round-trip merge rounds) runs once per (session, corpus
    plan, n_merges, vocab_cap) and serves all four family members —
    including the merge-curve sweep, whose per-round on_state
    callbacks are replayed from the recorded states. A cleared cache
    rebuilds to identical results."""
    from soccerpredictor_spark.operators import textops
    from soccerpredictor_spark.operators.scale import clear_caches

    clear_caches()
    learn_cold = entry.queries()["bpe_learn_merges"](spark, sf001).toPandas()
    assert len(textops._BPE_CACHE) == 1
    # the other members build from the cached loop — no new entries,
    # and the curve's on_state replay yields every requested point
    curve = entry.queries()["bpe_merge_curve"](spark, sf001).toPandas()
    assert len(textops._BPE_CACHE) == 1
    assert sorted(curve["n_merges"]) == sorted(textops.BPE_CURVE_POINTS)
    # cleared cache rebuilds to the identical merge table
    clear_caches()
    learn_rebuilt = entry.queries()["bpe_learn_merges"](spark, sf001).toPandas()
    assert learn_cold.equals(learn_rebuilt)


def test_mixture_family_shares_pinned_policies(spark, sf001):
    """Round-19: each mixture policy's eager build (temperature's
    corpus-count checkpoint, the waterfill checkpoint, DoReMi's
    per-round state pins) runs once per (session, corpus plan) and
    its output plan is shared by the standalone query and the 3-way
    compare. Cleared cache rebuilds to identical results."""
    from soccerpredictor_spark.operators import textops
    from soccerpredictor_spark.operators.scale import clear_caches

    clear_caches()
    dm_cold = entry.queries()["doremi_mixture"](spark, sf001).toPandas()
    assert {k[1] for k in textops._MIX_CACHE} == {"doremi_mixture"}
    cmp_df = entry.queries()["mixture_policy_compare"](spark, sf001)
    cmp_cold = cmp_df.toPandas()
    assert {k[1] for k in textops._MIX_CACHE} == {
        "doremi_mixture", "temperature_mix", "capped_mix_waterfill"
    }
    clear_caches()
    assert dm_cold.equals(
        entry.queries()["doremi_mixture"](spark, sf001).toPandas()
    )
    assert cmp_cold.equals(
        entry.queries()["mixture_policy_compare"](spark, sf001).toPandas()
    )
