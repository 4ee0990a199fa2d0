"""Physical-plan guards (SURVEY.md §4): the scale posture is part of
correctness here — broadcasts for dims, pushdown reaching the scan,
pruned read schemas, and no accidental cartesian products. These
assertions catch regressions that would only hurt at 100 TB, where the
sf0.01 oracle gate cannot see them."""

from __future__ import annotations

import pytest

from geoparquet_python_spark import registry

registry.load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


NEVER_CARTESIAN = [
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "q_geo_grid_distance_join",
    "q_minhash_lsh_neardup",
    "q_simhash_blocked_pairs",
    "q_hyperplane_lsh_neardup",
    "q_ngram_jaccard_pairs",
    "q_ann_topk_blocked",
    "q_asof_purchase_click",
]


@pytest.mark.parametrize("name", NEVER_CARTESIAN)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def _headline_names():
    import bench

    return bench.HEADLINE


# A condition-free broadcast join whose build side is a ONE-ROW
# aggregate (attach-a-scalar pattern: corpus size for IDF) also plans
# as BroadcastNestedLoopJoin, but is O(n·1) — not an all-pairs shape.
# Budget such sites explicitly so any NEW nested loop still fails.
ONE_ROW_BNLJ_BUDGET = {
    "q_tfidf_top_terms": 1,
    # corpus stats (N, Σdl) for BM25 — one-row aggregate crossJoin
    "q_bm25_topk": 1,
    # RRF inherits BM25's one-row stats crossJoin
    "q_hybrid_rrf_topk": 1,
    # the one-row token-budget aggregate crossJoin, replayed once per
    # branch (full buckets / boundary bucket) of the two-phase cutoff —
    # both instances build from the same one-row aggregate over the
    # checkpointed scored frame
    "q_token_budget_selection": 2,
    # the one-row LM-totals aggregate (n_t, n_r, V) crossJoined onto
    # the vocab-sized ratio frame
    "q_dsir_importance_selection": 1,
    # the one-row (n_old, n_new) totals aggregate crossJoined onto the
    # distinct-lengths ECDF frame (round 8; the established
    # one-row-broadcast class — the "nested loop" side is 1 row by
    # construction)
    "q_ks_length_drift": 1,
    # the latticed IRLS: one-row beta1 crossJoin (step-2 scoring) and
    # one-row beta2 crossJoin (accuracy pass) — both build sides are
    # 3-double model rows by construction (round 11 continuation)
    "q_logistic_quality_model": 2,
    # round 12 (the pair joined the headline): every crossJoin is a
    # broadcast_narrow one-row scalar attach — conformal: model onto
    # cal + test, n_cal onto the cumulative frame, qhat onto coverage
    # + the final select; qhat/model are unmaterialized, so their
    # one-row lineage re-expands under multiple consumers and the
    # physical plan shows 9 BNLJ nodes for 5 logical attaches
    "q_conformal_interval_coverage": 9,
    # Huber: model onto residuals, n onto the cumulative frame, the
    # data-driven k onto the weighted lattice + the final select
    "q_huber_robust_model": 4,
    # round 12 continuation (the pair joined the headline mid-build;
    # budgets added when optimization round 1 made the tree green):
    # isotonic PAV — the interval self-join (jrk >= irk) over the
    # MATERIALIZED <=20-row bin frame: build side is B<=20 rows by
    # construction (score bins), so the nested loop is O(B^2)=210
    # comparisons total, constant in corpus size
    "q_isotonic_calibration": 1,
    # certified GK percentile — the crossJoin of the 3-row literal
    # quantile-fraction frame onto the distinct-value cumulative frame
    "q_approx_percentile_certified": 1,
}


@pytest.mark.parametrize("name", _headline_names())
def test_headline_never_nested_loop(spark, sf_dir, name):
    """Every query in the headline bench must be free of all-pairs plans
    (BroadcastNestedLoopJoin / CartesianProduct). Brute-force baselines
    (q_simhash_near_pairs, q_cosine_topk_brute) stay registered for
    oracle cross-checks but are structurally barred from the headline:
    an O(n²) join shape in the representative suite would be the first
    thing to fall over at 100×."""
    plan = plan_of(spark, sf_dir, name)
    budget = ONE_ROW_BNLJ_BUDGET.get(name, 0)
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= budget, f"{name} plans {n_bnlj} BNLJ (budget {budget})"
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian"


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed"
    assert "l_partkey" not in plan, "column pruning lost: unreferenced key read"


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_delta")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan, f"{col} predicate not pushed"


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3, "dim joins not broadcast"
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_revenue")
    assert "TakeOrderedAndProject" in plan, "top-k fell back to global sort"


def test_brute_cosine_broadcasts_query_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_cosine_topk_brute")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


NEVER_CARTESIAN_TPCH2 = [
    "q7_nation_trade_flow",
    "q8_market_share",
    "q9_product_profit",
    "q16_supplier_part_counts",
    "q19_disjunctive_revenue",
    "q20_bulk_part_suppliers",
    "q21_lone_returner",
]


@pytest.mark.parametrize("name", NEVER_CARTESIAN_TPCH2)
def test_tpch2_no_cartesian(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_q8_dims_broadcast(spark, sf_dir):
    # part, supplier+nation, customer+nation+region sides all broadcast;
    # only the lineitem<->orders join may shuffle.
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4, "Q8 dims not broadcast"


def test_q21_semi_anti_realized_as_joins(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q21_lone_returner")
    assert "LeftSemi" in plan, "EXISTS not realized as semi join"
    assert "LeftAnti" in plan, "NOT EXISTS not realized as anti join"


def test_q16_anti_join_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q16_supplier_part_counts")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q19_part_side_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan, "part join not broadcast"


@pytest.mark.parametrize(
    "name",
    [
        "q_simhash_blocked_pairs",
        "q_simhash_blocked_pairs_loose",
        "q_simhash_wide_blocked_pairs",
        "q_simhash_wide240_blocked_pairs",
    ],
)
def test_blocked_simhash_no_nested_loop(spark, sf_dir, name):
    """Every blocked SimHash query must plan the shuffled chunk
    equi-join, never the all-pairs BroadcastNestedLoopJoin of the
    naive form."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_refines_broadcast_only_id_pairs(spark, sf_dir):
    """Round-1 hazard: the MinHash refine must never hint-broadcast a
    relation that carries shingle arrays or embeddings. The structural
    guard is broadcast_narrow (unit-tested in test_llm_ops); here we
    assert the physical plan still broadcasts SOMETHING (the id pairs)
    so the corpus side of the first refine join stays shuffle-free."""
    plan = plan_of(spark, sf_dir, "q_minhash_lsh_neardup")
    assert "BroadcastHashJoin" in plan, "id-pair broadcast lost"


def test_hyperplane_pair_stream_shape(spark, sf_dir):
    """Round-11 shape guard: hyperplane LSH candidates come from a
    whole-stage-codegen self-EQUI-join on (band, bval) over 40 B
    fingerprint rows, the hamming screen filters the pair stream
    BEFORE anything wide touches it, and the exact refine joins
    embeddings back only for the distinct survivors. The historical
    hazards stay pinned: no cartesian/nested-loop expansion, no
    broadcast HINT on the corpus-quadratic pair stream (AQE may pick
    broadcast at runtime by MEASURED size — that is the scale-safe
    mechanism), and the hamming screen (bit_count) must appear in the
    plan so the refine never sees the unscreened stream."""
    plan = plan_of(spark, sf_dir, "q_hyperplane_lsh_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan, "hamming screen missing from the plan"
    # The screen runs as a join-level or post-join filter on packed
    # fingerprint words — before the embedding attach (a_emb appears
    # only in the refine joins, which consume the distinct survivors).
    assert plan.index("bit_count") > plan.index("a_emb" if "a_emb" in plan
                                                else "embedding"), (
        "refine embeddings attach above the hamming screen"
    )


def test_unpartitioned_window_only_post_aggregation(spark, sf_dir):
    """q_cumulative_daily_revenue runs a global (unpartitioned) window —
    legal ONLY because it follows a groupBy that shrank the relation to
    |days| rows. Guard: the Window node must sit above the final
    HashAggregate, and the window input must not be a raw file scan."""
    df = registry.QUERIES["q_cumulative_daily_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    w_pos = plan.index("Window")
    # Everything below (after, in toString order) the Window must include
    # the aggregate that reduced cardinality before the global sort.
    below = plan[w_pos:]
    assert "HashAggregate" in below, (
        "global window is not running over a pre-aggregated relation"
    )


def test_global_window_runs_post_aggregation(spark, sf_dir):
    """An unpartitioned window serializes onto one task, so it is only
    acceptable over an already-reduced relation. Assert the Window in
    q_cumulative_daily_revenue sits ABOVE the monthly aggregate
    (parents print before children in plan toString): its input is the
    <=one-row-per-month series, never the orders fact table."""
    plan = plan_of(spark, sf_dir, "q_cumulative_daily_revenue")
    wi = plan.index("Window")
    assert "HashAggregate" in plan[wi:], (
        "global window is not running over a post-aggregation relation"
    )


NEVER_CARTESIAN_R2 = [
    "q_decontaminate_overlap",
    "q_crosscorpus_dedup",
    "q_passage_dedup_stats",
    "q_ann_topk_ivf",
    "q_winnowing_fingerprints",
    "q_countmin_heavy_hitters",
    "q_simhash_wide_blocked_pairs",
    "q_unigram_logprob",
]


@pytest.mark.parametrize("name", NEVER_CARTESIAN_R2)
def test_no_cartesian_round2(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_decontaminate_broadcasts_bench_side(spark, sf_dir):
    """The eval-set shingle table must be the broadcast side — the
    training corpus's exploded shingles never shuffle for the probe."""
    plan = plan_of(spark, sf_dir, "q_decontaminate_overlap")
    assert "BroadcastHashJoin" in plan, "bench shingle set not broadcast"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _v4_text_leg(spark, sf_dir, monkeypatch):
    """The frame q_curation_pipeline_v4 checkpoints for its text leg,
    caught at its materialize() call."""
    from geoparquet_python_spark.functions import exact

    seen = []
    real = exact.materialize

    def record(df):
        seen.append(df)
        return real(df)

    monkeypatch.setattr(exact, "materialize", record)
    registry.QUERIES["q_curation_pipeline_v4"](spark, sf_dir)
    monkeypatch.undo()
    legs = [df for df in seen if "zip_with(" in _optimized(df)]
    assert len(legs) == 1, f"{len(legs)} shingle checkpoints in v4"
    return legs[0]


# Shingle builds each frame's plan holds: the eval side and the probe
# side; the one checkpointed row frame; both self-join sides and both
# size lookups.
SHINGLE_BUILDS = {"decontaminate": 2, "v4_text_leg": 1, "overlaps": 4}


@pytest.mark.parametrize("name", sorted(SHINGLE_BUILDS))
def test_each_shingle_build_runs_once(spark, sf_dir_small, monkeypatch, name):
    """An inner explode of a named shingle-array column lets the
    optimizer infer size(sh) > 0 and push a second copy of the shingle
    build below the projection; text.shingle_rows / explode_sets
    explode with explode_outer plus a null filter, so every build is
    evaluated once (k = 3: 2 zip_with per build)."""
    from geoparquet_python_spark.operators.dedup import _shingle_overlaps

    if name == "decontaminate":
        df = registry.QUERIES["q_decontaminate_overlap"](spark, sf_dir_small)
    elif name == "v4_text_leg":
        df = _v4_text_leg(spark, sf_dir_small, monkeypatch)
    else:
        df = _shingle_overlaps(spark, sf_dir_small, stop_shingle_df=None)
    zips = _optimized(df).count("zip_with(")
    assert zips == 2 * SHINGLE_BUILDS[name], f"{zips} zip_with"


def test_ivf_broadcasts_probe_list(spark, sf_dir):
    """IVF search must broadcast the (qid, cell) probe list; the
    cell-assigned corpus is probed map-side, and assignment itself is
    a projection (no join anywhere but the probe join)."""
    plan = plan_of(spark, sf_dir, "q_ann_topk_ivf")
    assert "BroadcastHashJoin" in plan, "probe list not broadcast"
    assert "BroadcastNestedLoopJoin" not in plan, "IVF fell back to NL join"
    assert "SortMergeJoin" not in plan, "probe join shuffled the corpus"


PACKING_QUERIES = [
    "q_token_pack_nextfit",
    "q_token_pack_curriculum",
    "q_length_bucketed_batches",
]


@pytest.mark.parametrize("name", PACKING_QUERIES)
def test_packing_construction_launches_no_jobs(spark, sf_dir, name):
    """Shard sizing reads Parquet footer metadata on the driver
    (io.parquet_row_count); building the query over tables already read
    once must not spend a Spark job (the old shard_count(df.count())
    cost one full-table count BEFORE the main query — an extra pass at
    100 TB)."""
    from geoparquet_python_spark.io import load_tables

    load_tables(spark, sf_dir)  # the tables' schemas are known from here on
    sc = spark.sparkContext
    group = f"construct_probe_{name}"
    sc.setJobGroup(group, "query construction")
    try:
        registry.QUERIES[name](spark, sf_dir)  # construction only
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # A warm read reuses the memoized schema (io.parquet_schema), so no
    # schema-inference job; the old shard_count(df.count()) added a
    # full-table scan.
    assert jobs == [], f"{name} construction launched jobs: {jobs}"


NEVER_CARTESIAN_R6 = [
    "q_simhash_wide240_blocked_pairs",
    "q_hybrid_rrf_topk",
    "q_token_budget_selection",
    "q_mixture_temperature_weights",
    "q_semdedup_dropped",
]


@pytest.mark.parametrize("name", NEVER_CARTESIAN_R6)
def test_no_cartesian_round6(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_budget_selection_global_window_post_agg(spark, sf_dir):
    """q_token_budget_selection's unpartitioned cumulative window is
    legal ONLY over the <=101-row coarse-bucket aggregate (two-phase
    cutoff); assert it sits above a HashAggregate, like the
    q_cumulative_daily_revenue guard."""
    plan = plan_of(spark, sf_dir, "q_token_budget_selection")
    wi = plan.index("Window")
    assert "HashAggregate" in plan[wi:], (
        "global window is not running over a post-aggregation relation"
    )


def test_parquet_row_count_matches_spark_count(spark, sf_dir):
    from geoparquet_python_spark.io import load_table, parquet_row_count

    for t in ("documents", "events"):
        assert parquet_row_count(spark, sf_dir, t) == load_table(
            spark, sf_dir, t
        ).count()


def test_quota_sample_window_group_limit(spark, sf_dir):
    """The quota sample's scale contract: row_number() <= N compiles
    to a Partial WindowGroupLimit BELOW the exchange (map-side top-N
    per stratum) plus a Final one above — a giant stratum ships ~N
    rows per task into the shuffle, not its population."""
    plan = plan_of(spark, sf_dir, "q_stratified_quota_sample")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_weighted_stratified_sample_window_group_limit(spark, sf_dir):
    """The weighted per-stratum sample shares the quota sample's scale
    contract: the rank <= k filter over A-ES priorities compiles to
    Partial/Final WindowGroupLimit, so the shuffle carries ~k rows per
    (task, lang) and the priority projection stays map-only (no join,
    no corpus-wide exchange before the window)."""
    plan = plan_of(spark, sf_dir, "q_weighted_stratified_sample")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    for joinish in ("SortMergeJoin", "BroadcastHashJoin", "NestedLoop"):
        assert joinish not in plan


def test_ivfpq_broadcasts_lut_and_shortlist(spark, sf_dir):
    """IVFADC search contract: the per-(query, cell) ADC lookup table
    and the re-rank shortlist are the ONLY build sides — both bounded
    broadcasts — and no stage plans a cartesian/nested-loop over the
    corpus."""
    plan = plan_of(spark, sf_dir, "q_ann_topk_ivfpq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_duplicate_spans_no_pair_join(spark, sf_dir):
    """Span detection must stay linear: shingle-keyed aggregation +
    semi join + doc-keyed window — never a doc-pair join (no
    cartesian, no nested loop; the semi join realizes as a hash
    join)."""
    plan = plan_of(spark, sf_dir, "q_duplicate_ngram_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_bucketed_join_has_no_join_input_exchange(spark, sf_dir):
    """The whole point of the bucketed layout: the orderkey sort-merge
    join must read the bucketed scans DIRECTLY — no Exchange below the
    join. The only exchanges allowed are the post-join status rollup's
    hash partitioning and the presentation sort's range partitioning
    (both above the join in the plan string)."""
    plan = plan_of(spark, sf_dir, "q_bucketed_colocated_join")
    assert "SortMergeJoin" in plan, "bucketed join lost its SMJ strategy"
    join_at = plan.index("SortMergeJoin")
    below_join = plan[join_at:]
    assert "Exchange" not in below_join, (
        "bucketing failed to remove the join-input shuffle:\n" + below_join
    )
    assert plan.count("Exchange") <= 2, "unexpected extra exchanges"


def test_bloom_probe_is_map_only_on_fact_rows(spark, sf_dir):
    """The Bloom-pruned revenue query's fact-side filter must be a
    PLAIN Filter over the lineitem scan (the words literal rides inside
    the predicate) — no join, no shuffle at fact-row granularity before
    the pruning happens."""
    plan = plan_of(spark, sf_dir, "q_bloom_pruned_revenue")
    # the dim confirm-join exists, but the fact scan itself must sit
    # under a Filter containing the bloom probe (the KM singleton-
    # transform binding since r9), not under any exchange-before-filter
    # shape
    import re

    # Round-11 continuation: the probe hash is JVM-native xxhash64
    # (the md5 bit-parity certificate lives in q_bloom_filter_semi_join)
    # — still bound ONCE per fact row via the singleton-transform.
    m = re.search(r"Filter [^\n]*transform\(array\([^\n]*xxhash64[^\n]*", plan)
    assert m, "bloom probe filter not found in the fact scan stage"
    # The r9 probe contract, carried over: ONE hash evaluation per fact
    # row (Kirsch-Mitzenmacher positions derive from a single bound
    # hash). A regression to per-position hashing would show as
    # multiple xxhash64 calls in the probe filter line.
    assert m.group(0).count("xxhash64(") == 1, (
        "bloom probe evaluates xxhash64 more than once per row:\n"
        + m.group(0)
    )
    assert "md5(" not in m.group(0), (
        "native probe still evaluates md5 per fact row"
    )


def test_ivfpq_store_scan_is_partition_pruned(spark, sf_dir):
    """The persisted IVFADC index must behave as an inverted file: the
    store scan carries a PartitionFilters predicate on cell, so only
    the probed nprobe/K directories are read."""
    import re

    plan = plan_of(spark, sf_dir, "q_ivfpq_cell_store_search")
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m, "store scan lost its cell partition filter"


def test_bucketed_groupby_has_no_pre_agg_exchange(spark, sf_dir):
    """Bucket-key aggregation must run in place: no Exchange between
    the bucketed scan and the HashAggregate pair — only the trailing
    presentation sort's range partitioning remains."""
    plan = plan_of(spark, sf_dir, "q_bucketed_groupby_no_shuffle")
    agg_at = plan.index("HashAggregate")
    below_agg = plan[agg_at:]
    assert "Exchange" not in below_agg, (
        "bucketing failed to remove the aggregation shuffle:\n" + below_agg
    )
    assert plan.count("Exchange") <= 1, "unexpected extra exchanges"
