"""Plan-shape assertions: the scale claims SCALE.md makes about specific
queries (filter pushdown, broadcast joins, top-k physical operator, column
pruning, no nested-loop pair joins) verified against the ACTUAL physical
plans, not prose. These are the checks a 100 TB deployment would gate on —
a plan regression here silently turns a scan-bounded query into a
shuffle-everything query long before anyone reruns a benchmark.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from fts_errors_clustering_spark.plans.registry import all_queries

from .conftest import SF_SMALL

_DEFS = all_queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    """P2 IN-list filter must be pushed into the parquet scan."""
    plan = _plan(_DEFS["count_filtered_events"].fn(spark, SF_SMALL))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("event_type" in ln for ln in pushed), pushed


def test_star_join_broadcasts_dims(spark):
    """Small dimension tables (region/nation/customer) must broadcast —
    a shuffle join on the fact table's key would be the 100 TB bottleneck."""
    plan = _plan(_DEFS["revenue_by_region"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    """Brute-force ANN top-k must plan as TakeOrderedAndProject (per-
    partition heap + driver merge), never a global sort."""
    plan = _plan(_DEFS["ann_bruteforce_topk"].fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_semi_and_anti_joins_stay_semi(spark):
    plan = _plan(_DEFS["topn_semijoin_events"].fn(spark, SF_SMALL))
    assert "LeftSemi" in plan
    plan = _plan(_DEFS["customers_without_orders"].fn(spark, SF_SMALL))
    assert "LeftAnti" in plan


def test_multimodal_metadata_prunes_payload(spark):
    """The metadata query must never carry the payload column: the scan
    stays narrow (doc_id, text) and no output column is the binary payload
    (length(encode(..)) for byte_len is fine — it never materializes the
    bytes as a column)."""
    plan = _plan(_DEFS["multimodal_metadata"].fn(spark, SF_SMALL))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "doc_id" in read[0] and "text" in read[0], read
    assert "payload" not in plan


def test_kernel_pairs_no_nested_loop(spark):
    """The pairwise kernel path (used by kNN, DBSCAN, and pipeline B's
    inner kNN) must contain no BroadcastNestedLoopJoin / CartesianProduct —
    the O(n^2)-pairs-through-an-expression anti-pattern it replaced — and
    the per-point aggregate reads the kernel's exact top-k directly: no
    join back to the vectors and no ranking window."""
    from fts_errors_clustering_spark.operators.pairwise import \
        topk_candidate_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)],
        "doc_id long, embedding array<double>")
    knn = (topk_candidate_pairs(emb, "doc_id", "embedding", 3)
           .groupBy("a").agg(F.avg("dist").alias("mean_dist")))
    plan = _plan(knn)
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct",
                 "BroadcastHashJoin", "Window"):
        assert node not in plan, node


def test_contamination_probe_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (tiny) benchmark shingle set and
    stream the corpus side — never shuffle corpus shingles to the bench."""
    plan = _plan(_DEFS["benchmark_contamination"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan

def test_salted_group_members_two_level(spark):
    """The salted A11 listing must aggregate in two levels: a lane-level
    HashAggregate keyed by (event_type, salt) under a key-level one —
    if the salt column disappears (optimized away or refactored out),
    the hot-key straggler returns silently."""
    plan = _plan(_DEFS["salted_group_members"].fn(spark, SF_SMALL))
    assert "pmod" in plan, plan
    assert plan.count("ObjectHashAggregate") + plan.count("SortAggregate") >= 2


def _tree_nodes(plan: str) -> list[str]:
    """Physical operator names from the formatted plan's detail headers
    ('(N) OpName'), which appear exactly once per node (the ASCII tree
    repeats names, so naive substring counts double-count)."""
    import re
    return [m.group(1) for m in re.finditer(r"^\(\d+\) (\S+)", plan, re.M)]


def test_latest_event_compaction_single_shuffle(spark):
    """Latest-wins compaction must be one window pass: exactly one
    exchange (by user_id), no join."""
    plan = _plan(_DEFS["latest_event_per_user"].fn(spark, SF_SMALL))
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_value_histogram_single_scan(spark):
    """The static-bin histogram must stay one scan + one aggregate
    exchange — a data-dependent-range histogram would show two scans."""
    plan = _plan(_DEFS["value_histogram"].fn(spark, SF_SMALL))
    nodes = _tree_nodes(plan)
    assert nodes.count("Scan") == 1, nodes
    assert nodes.count("Exchange") == 1, nodes


def test_funnel_single_user_shuffle_no_joins(spark):
    """The funnel must be the stacked-window plan: one exchange on
    user_id (+ the 1-row global aggregate exchange), and NO join — the
    join-per-step formulation the oracle spells out would re-shuffle
    events once per funnel step."""
    plan = _plan(_DEFS["funnel_counts"].fn(spark, SF_SMALL))
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") <= 2, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_skew_join_salted_smj(spark):
    """The skew-salted join must sort-merge on the SALTED composite key
    (user_id, salt) — if the salt column falls out of the join condition
    the hot key collapses back into one task."""
    plan = _plan(_DEFS["skew_join_segments"].fn(spark, SF_SMALL))
    nodes = _tree_nodes(plan)
    assert any("SortMergeJoin" in n for n in nodes), nodes
    import re
    lk = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)
    rk = re.search(r"Right keys \[\d+\]: \[([^\]]*)\]", plan)
    assert lk and "salt" in lk.group(1), plan
    assert rk and "salt" in rk.group(1), plan


def test_global_rank_no_single_partition_window(spark):
    """global_value_rank's whole point: the exact global ROW_NUMBER must NOT
    plan as an Exchange SinglePartition + global Window (the one-task
    global-sort scale-killer); the window must partition on the bucket id."""
    plan = _plan(_DEFS["global_value_rank"].fn(spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan
    assert "bucket" in plan


def test_packed_sequences_no_single_partition_window(spark):
    """The packing offset cumsum must use the bucket prefix-sum, never an
    unpartitioned Window.orderBy (= SinglePartition exchange of the whole
    corpus — the round-2 scale-killer)."""
    plan = _plan(_DEFS["packed_sequences"].fn(spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan
    assert "bucket" in plan


def test_curriculum_phases_no_single_partition_window(spark):
    """The curriculum NTILE must come from the bucket prefix-sum rank —
    a plain NTILE() OVER (ORDER BY ...) would be a SinglePartition
    exchange of the whole corpus."""
    plan = _plan(_DEFS["curriculum_length_phases"].fn(spark, SF_SMALL))
    assert "SinglePartition" not in plan, plan
    assert "bucket" in plan


def test_survival_curves_no_single_partition_window(spark):
    """The survival family's at-risk/cumulative prefix processes must use
    the two-phase bucket composition, never an unpartitioned
    Window.orderBy over the distinct-duration table — durations are
    integer microseconds, so |distinct durations| ≈ |users| on real data
    and a global window is a one-task sort (the r09 verdict finding).
    SinglePartition under the 1-row scalar aggregates (censor time, arm
    totals) is legitimate; a Window fed by an Exchange SinglePartition is
    banned."""
    import re
    for name in ("nelson_aalen_hazard", "ab_test_logrank"):
        plan = _plan(_DEFS[name].fn(spark, SF_SMALL))
        bad = re.findall(
            r"Window[^\n]*\n(?:[^\n]*(?:Sort|Project|Filter)[^\n]*\n){0,3}"
            r"[^\n]*Exchange SinglePartition", plan)
        assert not bad, f"{name}: window over SinglePartition\n{plan}"
        assert "bucket" in plan, name


def test_kernel_broadcast_cache_bounded(spark):
    """The pairwise kernel's matrix cache must stay LRU-bounded and reuse
    the SAME broadcast handle for a semantically identical side table — a
    long-lived session must not accumulate one executor-side broadcast per
    kernel invocation (the round-2 leak)."""
    from fts_errors_clustering_spark.operators import pairwise
    from fts_errors_clustering_spark.sources.readers import table
    emb = table(spark, SF_SMALL, "embeddings")
    b1 = pairwise._broadcast_side(emb, "vec_id", "embedding")[0]
    b2 = pairwise._broadcast_side(emb, "vec_id", "embedding")[0]
    assert b1 is b2, "identical plans must share one broadcast"
    for i in range(2 * pairwise._CACHE_MAX):
        # distinct limits -> distinct semantic hashes -> distinct entries
        pairwise._broadcast_side(emb.limit(10 + i), "vec_id", "embedding")
    assert len(pairwise._MATRIX_CACHE) <= pairwise._CACHE_MAX
    # the original entry was evicted; its slot refilled fresh on re-request
    b3 = pairwise._broadcast_side(emb, "vec_id", "embedding")[0]
    assert len(pairwise._MATRIX_CACHE) <= pairwise._CACHE_MAX
    assert (b3.value[0] == b1.value[0]).all()


def test_affinity_lift_no_forced_dim_broadcasts(spark):
    """part_affinity_lift may force-broadcast ONLY the 1-row order total:
    the per-part count tables grow with part cardinality, so their join
    strategy must be left to AQE runtime stats (a forced hint on them would
    blow any broadcast budget at scale while the support-filtered pair
    side is already small). The support-filtered pair aggregate must stay
    the streamed/probe side shape: top-k plans as TakeOrderedAndProject,
    never a CartesianProduct."""
    from fts_errors_clustering_spark.operators.graph import \
        _affinity_lift_plan
    df, caches = _affinity_lift_plan(spark, SF_SMALL)
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 1, analyzed
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
    finally:
        for c in caches:
            c.unpersist()


def test_hll_rollup_error_bound(spark):
    """Merged daily HLL sketches must estimate per-type distinct users
    within the sketch's configured error (lgK=14 → well under 2%)."""
    rows = _DEFS["hll_rollup_daily_users"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_days >= 1
        assert abs(r.approx_users - r.exact_users) / max(r.exact_users, 1) <= 0.02


#: queries whose plans legitimately contain a BroadcastNestedLoopJoin: every
#: entry's BNLJ side is a 1-row aggregate (scalar corpus totals / stats /
#: cutoffs) or a literal ≤10-row parameter table — bounded by construction,
#: reviewed by hand. Anything NOT listed here must plan without BNLJ.
_BNLJ_OK: set[str] = {
    "ann_bruteforce_topk",       # 1-row query vector
    "ann_batch_topk",            # literal query batch
    "embedding_near_dup_pairs",  # scalar norm/total row
    "top_users_share",           # scalar grand total
    "bigram_logprob_scores",     # scalar vocabulary size
    "mixture_weights",           # scalar corpus totals
    "token_budget_selection",    # scalar budget cutoff
    "distribution_drift_psi",    # scalar baseline totals
    "internal_cluster_metrics",  # 1-row global centroid
    "pmi_top_collocations",      # scalar token/bigram totals
    "supplier_revenue_pareto",   # 1-row (total, n) crossing threshold
    "vocabulary_set_ops",        # 1-row set-op counts
    "term_idf",                  # scalar n_docs
    "tfidf_top_terms",           # scalar n_docs
    "bm25_search",               # 1-row (N, avgdl) stats
    "flagship_top_error_users",  # scalar grand total
    "describe_event_type",       # 1-row mode aggregate
    "chi2_priority_status",      # scalar grand total n
    "ab_test_cuped",             # 1-row observation-midpoint scalar
    "nelson_aalen_hazard",       # 1-row censor-time scalar (max ts)
    "ab_test_logrank",           # 1-row censor-time + 1-row arm totals
    "hourly_resampled_counts",   # |event_type|-row distinct-types side
    "hourly_anomaly_scores",     # |event_type|-row distinct-types side
    "hybrid_search_rrf",         # 1-row BM25 stats + 1-row query vector
    "quality_signal_correlation",  # scalar vocabulary size (bigram CTE)
    "neardup_threshold_sweep",   # 5-literal-row threshold table
    "shard_balance_audit",       # 1-row grand-total broadcast
    "split_stratification_chi2",  # scalar grand total n (chi2 pattern)
    "part_affinity_lift",        # 1-row order-total broadcast
    "decayed_user_scores",       # 1-row max-ts anchor
    "user_profile_similarity_topk",  # 1-row anchor norm
    "benford_deviation",         # 1-row digit total
    "lang_token_divergence",     # |langs|-row l1<l2 pair self-join
    "idle_rich_customers",       # 1-row scalar balance cutoff
    "incremental_neardup_counts",  # 1-row batch-count x 1-row flagged-count
    "lang_temperature_weights",  # 1-row token total + 1-row weight sum
    "mixture_sampled_counts",    # 1-row (corpus total, source count) scalars
    "copurchase_triangle_count",  # 1-row edge/wedge/triangle count stitch
    "top_supplier_by_revenue",   # 1-row max-revenue scalar vs supplier rows
    "important_part_value",      # 1-row global-total cutoff vs part rows
    "rfm_customer_segments",     # 1-row customer-count scalar vs rank rows
    "value_decile_histogram",    # 1-row decile-cut array broadcast
    "stratified_hash_sample",    # 1-row minority-class target broadcast
    "quality_retention_curve",   # 10-row exploded decile-cut broadcast
    "dow_seasonality_index",     # 1-row grand-total broadcast
}


def test_plan_lint_no_cartesian_or_unbounded_nested_loop(spark):
    """Repo-wide plan lint: NO registered batch query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only for the
    hand-reviewed 1-row-broadcast cases in _BNLJ_OK. Model-backed and
    streaming queries are excluded (building them trains models / runs
    streams); their plan shapes are pinned by their own tests."""
    skip_tags = {"ml", "pipeline", "streaming", "stateful"}
    checked = 0
    failures = []
    for name, qd in _DEFS.items():
        if skip_tags & set(qd.tags):
            continue
        plan = _plan(qd.fn(spark, SF_SMALL))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if name not in _BNLJ_OK and "BroadcastNestedLoopJoin" in plan:
            failures.append(f"{name}: BroadcastNestedLoopJoin")
        checked += 1
    assert checked > 50, f"lint swept only {checked} queries"
    assert not failures, failures


#: shuffle budgets: measured `Exchange` occurrence counts in the formatted
#: plan (each physical Exchange node prints twice: tree + detail section) of
#: flagship queries, pinned as CEILINGS. A future edit that silently adds a
#: shuffle — an extra groupBy, a lost broadcast, a repartition — fails here
#: long before any benchmark notices; lowering a count is always fine.
_EXCHANGE_BUDGET = {
    "flagship_top_error_users": 6,
    "count_filtered_events": 2,
    "event_type_counts": 2,
    "revenue_by_region": 10,
    "latest_event_per_user": 2,
    "value_histogram": 2,
    "dedup_exact": 4,
    "doc_chunks": 0,
    "token_counts": 0,
    "hash_split_counts": 2,
    "tumbling_hourly_by_type": 2,
    "salted_group_members": 4,
    "split_leakage_counts": 8,
    "global_value_rank": 2,
    "packed_sequences": 4,
    "bm25_search": 32,
    # round-3b TPC-H + graph (SinglePartition inside these is only the
    # 1-row scalar aggregate, not a data-sized global sort)
    "forecast_revenue_delta": 2,
    "nation_trade_volume": 12,
    "returned_item_losses": 8,
    "customer_order_distribution": 6,
    "promo_revenue_share": 4,
    "top_supplier_by_revenue": 12,
    "large_volume_customers": 10,
    "late_exists_priority_counts": 4,
    "nation_profit_by_year": 8,
    "important_part_value": 12,
    "part_supplier_diversity": 8,
    "time_rollup_revenue": 2,
    # round-4 additions: Q5 is all-broadcast (6 physical exchanges = dim
    # builds + final agg), Q12/PII/fertility are scan -> one agg shuffle;
    # the two leakage/sweep plans inherit the minhash pipeline's budget
    "local_supplier_revenue": 12,
    "linestatus_priority_counts": 4,
    "pii_audit_counts": 2,
    "tokenizer_fertility_by_lang": 2,
    # round-7 additions: attribution = ONE user-keyed window exchange +
    # the bounded type-level agg + the O(types) total window (a regressed
    # crossJoin(broadcast(total)) formulation measured 2 scans — this pin
    # catches its return); step timing = 3 type-filtered scans to
    # user-sized aggregates + the cached middle frame's branches
    "last_touch_attribution": 6,
    "funnel_step_timing": 17,
    "split_neardup_leakage": 20,
    "neardup_threshold_sweep": 22,
    # 42 when the shared minhash sigs cache is cold (both LSH branches
    # print); collapses to ~24 once the InMemoryRelation is materialized
    "source_overlap_matrix": 42,
    "embedding_norm_stats": 2,
    "shard_balance_audit": 8,
    # round-5 batch 2: FD audit = 4 candidates x (pair agg + det agg +
    # 1-row final); gini/trend = joins + window/moment aggs; skyline =
    # price group + bucket window + join-back
    "fd_violation_audit": 24,
    "revenue_gini_by_nation": 8,
    "nation_revenue_trend": 8,
    "pareto_frontier_parts": 6,
    "rolling_7d_distinct_users": 10,
    "twa_value_per_user": 2,
    "quality_retention_curve": 6,
    "token_weighted_quality_quantiles": 12,
    "revenue_autocorrelation": 8,
    # round 6: pareto/funnel return bounded LOCAL relations by design
    # (materialize_release / O(1) driver assembly) — a nonzero count here
    # means the release regressed; the audit is one QI aggregate + fold;
    # the rollup is day-state agg -> week merge -> walk -> exact join
    "supplier_revenue_pareto": 0,
    "user_funnel_conversion": 0,
    "k_anonymity_audit": 6,
    "histogram_quantile_rollup": 18,
    # round 8: A/B = ONE user-keyed window exchange (the per-user groupBy
    # reuses its partitioning — a second user exchange here means the
    # window/groupBy clustering drifted apart) + the 1-row final agg;
    # hazard curve = the same user window + censor-time scalar agg +
    # bounded single-partition curve windows over <= |users| rows
    "ab_test_lift": 4,
    # CUPED: user-keyed decimal-sum exchange + midpoint scalar agg +
    # 1-row moment aggregate
    "ab_test_cuped": 8,
    # round 9: rank-sum = user-keyed decimal-sum exchange + distinct-value
    # collapse + WITHIN-bucket prefix window (no single-partition rank
    # scan) + 1-row moment aggregate (4 physical shuffles; 12 prints with
    # the cached distinct-value frame's AQE/initial-plan sections)
    "ab_test_ranksum": 12,
    # round 10: both survival curves now run the two-phase bucket
    # composition over TWO cached frames (duration collapse g, and for the
    # hazard the event-terms frame h) — the cold formatted plan reprints
    # each InMemoryRelation's full build subtree (user window + collapse)
    # at every reference, so the print-count ceiling is high while the
    # EXECUTED shuffles are: one user-keyed window exchange + one t_us
    # collapse + one bucket-window exchange (+ h's for the hazard) + tiny
    # scalar aggs (the source_overlap_matrix cold-print precedent;
    # measured 52/44 cold at sf0.001)
    "nelson_aalen_hazard": 52,
    "ab_test_logrank": 44,
}


def test_exchange_budgets(spark):
    over = []
    for name, budget in _EXCHANGE_BUDGET.items():
        plan = _plan(_DEFS[name].fn(spark, SF_SMALL))
        got = plan.count("Exchange")
        if got > budget:
            over.append((name, got, budget))
    assert not over, f"shuffle budget exceeded: {over}"


#: Spark jobs one warm call submits at sf0.001 (the call and the consumer's
#: collect, under one job group). Deterministic for a fixed input and plan;
#: AQE's broadcast and stage threads inherit the group and are counted.
#: Warm means after one op in the session: the first call also resolves
#: the ``documents`` table (``readers.table``), a job of its own.
_FLOW_JOBS = {"pipeline_tfidf_kmeans": 12, "pipeline_word2vec_dbscan": 22}


def test_cluster_flows_reuse_codegen_and_pin_job_counts(spark):
    """A cluster op (flow A then flow B), repeated on the same input, must
    compile no new whole-stage classes: the two flows need more classes
    than Spark's default 100-entry codegen cache holds, so at that size
    every op recompiled them; the cache sized in ``get_spark`` keeps them.
    Each flow must also submit a pinned number of Spark jobs per warm
    call."""
    from fts_errors_clustering_spark.plans.registry import \
        release_consumer_caches

    sc = spark.sparkContext
    compiled = (sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    compiles, jobs = [], {name: [] for name in _FLOW_JOBS}
    for op in range(4):  # op 0 warms the session and is not counted
        c0 = compiled.getCount()
        for name in _FLOW_JOBS:
            group = f"codegen-reuse-{name}-{op}"
            sc.setJobGroup(group, name)
            try:
                _DEFS[name].fn(spark, SF_SMALL).collect()
                release_consumer_caches()
                jobs[name].append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        compiles.append(compiled.getCount() - c0)
    assert compiles[1:] == [0, 0, 0], compiles
    assert {name: n[1:] for name, n in jobs.items()} == {
        name: [n] * 3 for name, n in _FLOW_JOBS.items()}, jobs


def test_kmeans_refit_compiles_no_new_classes(spark):
    """The driver K-Means transform's centers are literals inside a
    higher-order function, which generated code references rather than
    inlines: a refit with other centers (another seed) compiles 0 new
    whole-stage classes."""
    import numpy as np
    from pyspark.ml.functions import array_to_vector

    from fts_errors_clustering_spark.operators.clustering import \
        fit_kmeans_best
    from fts_errors_clustering_spark.sources.readers import table

    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    feats = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features"))
    first = fit_kmeans_best(feats, k=10, n_init=1, base_seed=42)
    first.transform(feats).select("vec_id", "prediction").collect()
    refit = fit_kmeans_best(feats, k=10, n_init=1, base_seed=1042)
    assert not np.allclose(first.clusterCenters(), refit.clusterCenters())
    c0 = compiled.getCount()
    refit.transform(feats).select("vec_id", "prediction").collect()
    assert compiled.getCount() - c0 == 0
