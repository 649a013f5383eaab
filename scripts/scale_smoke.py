"""Scale smoke: up-sample the sf0.1 fixtures 10x (~sf1) and measure the
hot operators' scaling behaviour.

Correctness is gated at sf0.01 by the DuckDB oracle; this script answers
the OTHER question — does each plan's runtime grow like its design says it
should (linear for scans/aggs/banded dedup, near-linear for kernel-pruned
vector ops) — with measurements instead of claims. Synthetic inputs live
under .tmp/ and are used ONLY here, never by the driver-facing queries.

Up-sampling (replica k of 10, deterministic):
- events: user_id/event_id offset, ts shifted +k days -> 1,000,000 rows
- documents: doc_id offset, text salted with a replica token (so replicas
  are NEAR-dups, not exact dups — a real dedup workload) -> 50,200 docs
- embeddings: vec_id offset, vectors jittered +k*1e-4 per coordinate
  (preserves eps-neighborhood structure without exact collisions)
  -> 20,000 vectors

Run: python scripts/scale_smoke.py  (prints one JSON line per query with
sf0.1 vs 10x wall seconds and the ratio).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fts_errors_clustering_spark.plans.registry import all_queries
from fts_errors_clustering_spark.session import get_spark
from fts_errors_clustering_spark.sources.readers import table

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/root/repo/.tmp/scale10x"
REPLICAS = 10

#: headline subset that touches only the up-sampled tables
QUERIES = [
    "flagship_top_error_users",    # events: filter+agg+topN
    "count_filtered_events",       # events: scan+count
    "tumbling_hourly_by_type",     # events: windowed agg
    "tfidf_top_terms",             # documents: explode+agg+window
    "doc_quality_scores",          # documents: column algebra
    "minhash_near_dups",           # documents: sketch+band join
    "ngram_jaccard_pairs",         # documents: blocked join
    "knn_mean_distance",           # embeddings: kernel+rerank
    "dbscan_labels",               # embeddings: kernel+propagation
    "ann_bruteforce_topk",         # embeddings: broadcast scan
    "doc_repetition_stats",        # documents: per-doc gram argmax aggs
    "duplicate_ngram_coverage",    # documents: span df table + semi-join
    "quality_filter_funnel",       # documents: column algebra + group
    "curated_corpus_stats",        # documents: dedup+quality+decontam
    "bigram_logprob_scores",       # documents: LM train + broadcast score
    "zipf_slope",                  # documents: explode+agg+topk
    "ann_batch_topk",              # embeddings: broadcast + salted topk
    "label_centroid_cosine",       # embeddings: posexplode long-form agg
    "salted_group_members",        # events: two-level salted collect_set
    "latest_event_per_user",       # events: single-window compaction
    "value_histogram",             # events: static-bin single scan
    "doc_chunks",                  # documents: sliding-window explode
    "packed_sequences",            # documents: global cumsum packing
    "token_budget_selection",      # documents: histogram cutoff, no sort
    "importance_weights_dsir",     # documents: feature explode + bcast model
    "quality_threshold_by_lang",   # documents: per-group P25 + bcast gate
    "distribution_drift_psi",      # events: one (week,bin) agg drives all
    "bm25_search",                 # documents: query-term-pruned postings
    "incremental_dedup_counts",    # documents: digest SMJ + batch window
    "rolling_7d_user_value",       # events: RANGE-frame trailing window
    "global_value_rank",           # events: bucketed two-phase global rank
    "hll_rollup_daily_users",      # events: sketch agg + union merge
    "pmi_top_collocations",        # documents: bigram stats + top-20
    "debounced_event_counts",      # events: per-key lag + 5-row agg
    "event_trigram_journeys",      # events: lead-window trigram stream
    "winsorized_value_stats",      # events: exact P1/P99 clip + stats
    "hourly_resampled_counts",     # events: 1-row bounds -> dense grid
    "daily_cumulative_events",     # events: window over daily aggregate
    "chi2_priority_status",        # orders: contingency cells + margins
    "heavy_hitter_tokens",         # documents: MG sketches + certified recount
    "bpe_merge_table",             # documents: vocab-table merge rounds
    "bpe_tokens_per_lang",         # documents: encode-side token budget
    "knn_knee_epsilon",            # embeddings: kNN kernel + driver knee
    "knn_knee_sweep",              # embeddings: kNN kernel + driver sweep
    "split_leakage_counts",        # documents: digest x split-pair join
    "leakage_safe_splits",         # documents: CC-rep keyed split re-hash
    "incremental_neardup_counts",  # documents: batch-vs-history LSH gate
    "copurchase_triangle_count",   # lineitem: degree-ordered wedge count
    "copurchase_kcore",            # lineitem: adaptive-k peel rounds
    "late_exists_priority_counts", # orders+lineitem: EXISTS semi residual
    "large_volume_customers",      # orders+lineitem: HAVING agg-then-semi
    "important_part_value",        # lineitem: mean-relative global cutoff
    "time_rollup_revenue",         # orders: one-Expand grouping sets
    "props_variant_stats",         # events: VARIANT shred-once stats
    # round-4 additions
    "local_supplier_revenue",      # TPC-H Q5: bcast dims, one fact shuffle
    "linestatus_priority_counts",  # TPC-H Q12: pushed window, cond sums
    "split_neardup_leakage",       # documents: LSH pairs x split hash
    "neardup_threshold_sweep",     # documents: one LSH pass, 5-tau join
    "pii_audit_counts",            # documents: 3 regexp_count columns
    "tokenizer_fertility_by_lang", # documents: integer sums per lang
    "shard_balance_audit",         # documents: 16-shard token skew
    "source_overlap_matrix",       # documents: LSH pairs x source lookup
    "embedding_norm_stats",        # embeddings: per-label norm fold
    "events_column_profile",       # events: one wide agg, 6-row unpivot
    "scd2_user_intervals",         # events: one user-partitioned LEAD
    "split_stratification_chi2",   # documents: split x lang contingency
    "open_orders_backlog",         # orders+lineitem: delta sweep cumsum
    "part_affinity_lift",          # lineitem: bounded basket pair join
    # round-5 additions
    "part_entity_matches",         # part: multi-pass blocked ER (capped)
    "value_mad_outliers",          # events: two exact grouped percentiles
    "stratified_hash_sample",      # documents: broadcast-fraction scan
    "user_interarrival_stats",     # events: one user-partitioned LAG
    "hourly_cusum_changepoint",    # events: calendar-sized CUSUM windows
    "incremental_agg_maintenance", # events: two states + tiny merge
    "value_decile_histogram",      # events: 1-row cuts bcast + bin scan
    "fd_violation_audit",          # 4 tables: key-pair-bounded shuffles
    "revenue_gini_by_nation",      # orders: nation-partitioned rank
    "nation_revenue_trend",        # orders: exact OLS moment sums
    "pareto_frontier_parts",       # part: two-phase prefix-max skyline
    "rolling_7d_distinct_users",   # events: 7x user-day explode + Expand
    "quality_retention_curve",     # documents: 10x bounded doc expansion
    "revenue_autocorrelation",     # orders: calendar-sized lag join
    "twa_value_per_user",          # events: one user shuffle + decimal dt
    "token_weighted_quality_quantiles",  # documents: bucketed cum weights
    "dow_seasonality_index",       # orders: calendar-sized 7-group agg
    # round-6 additions
    "supplier_revenue_pareto",     # lineitem: two-phase rank + cum share
    "lsa_features_rsvd",           # documents: 3-pass randomized SVD
    "user_funnel_conversion",      # events: 3 pruned scans, user-keyed steps
    "k_anonymity_audit",           # customer: one QI aggregate + audit fold
    "histogram_quantile_rollup",   # events: day states -> week merge walk
    "multimodal_audio_features",   # documents: Arrow-batched PCM featurize
    # round-7 additions
    "funnel_step_timing",          # events: shared min-time recurrence +
                                   # per-step percentiles over converters
    "last_touch_attribution",      # events: one user-keyed window + tiny agg
    # round-10 additions: the experiment/survival family. Staging jitters
    # PURCHASE timestamps per (replica, user), so the distinct-duration
    # set genuinely scales with users — the r08 smoke's duration-set
    # invariance was a same-delta replication artifact (r09 verdict) that
    # hid the old single-partition curve windows' true cost shape.
    "ab_test_lift",                # events: one user window + 1-row agg
    "ab_test_ranksum",             # events: bucketed two-phase prefix ranks
    "nelson_aalen_hazard",         # events: two-phase at-risk + cum hazard
    "ab_test_logrank",             # events: shared-offsets two-phase curves
]


def stage(spark) -> None:
    # dims stay fixture-sized (the 10x run scales the FACT side only —
    # exactly the skew-join scenario); staged idempotently on their own
    # marker so older staged dirs pick them up
    for dim in ("customer", "orders", "part", "supplier", "nation", "region"):
        if not os.path.exists(os.path.join(OUT, f"{dim}.parquet")):
            (table(spark, SRC, dim).write.mode("overwrite")
             .parquet(os.path.join(OUT, f"{dim}.parquet")))
    # lineitem is a FACT: replicate 10x with keys UNCHANGED (join fanout
    # grows honestly; only the line number is salted to keep the natural
    # (orderkey, linenumber) key unique across replicas)
    if not os.path.exists(os.path.join(OUT, "lineitem.parquet")):
        li = table(spark, SRC, "lineitem").withColumn(
            "k", F.explode(F.array(*[F.lit(k) for k in range(REPLICAS)])))
        (li.withColumn("l_linenumber",
                       F.col("l_linenumber") + F.col("k") * 10)
           .drop("k")
           .write.mode("overwrite")
           .parquet(os.path.join(OUT, "lineitem.parquet")))
    if os.path.exists(os.path.join(OUT, "_STAGED")):
        return
    reps = F.explode(F.array(*[F.lit(k) for k in range(REPLICAS)])).alias("k")

    ev = table(spark, SRC, "events").withColumn("k", reps)
    # purchase timestamps get a deterministic per-(replica, user)
    # microsecond jitter: replicas shifted by the SAME delta keep the
    # duration set invariant (the r08 artifact the r09 verdict flagged),
    # which let a single-partition duration window look flat at 10x.
    # Jittering only purchases makes |distinct t_ev - t0| scale with
    # users while leaving first-view anchors and windowed/session smokes
    # essentially untouched (sub-millisecond shifts).
    jit = (F.when(F.col("event_type") == "purchase",
                  F.col("k") * 1009 + F.pmod(F.col("user_id"), F.lit(997)))
           .otherwise(0).cast("long"))
    (ev.select(
        (F.col("event_id") + F.col("k") * 10_000_000).alias("event_id"),
        (F.col("user_id") + F.col("k") * 1_000_000).alias("user_id"),
        "event_type",
        F.timestamp_micros(
            F.unix_micros(F.col("ts") + F.make_interval(days=F.col("k")))
            + jit).alias("ts"),
        "value", "props")
     .write.mode("overwrite").parquet(os.path.join(OUT, "events.parquet")))

    docs = table(spark, SRC, "documents").withColumn("k", reps)
    (docs.select(
        (F.col("doc_id") + F.col("k") * 1_000_000).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text"))
         .otherwise(F.concat("text", F.lit(" rep"),
                             F.col("k").cast("string"))).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text", "k")])
     .write.mode("overwrite").parquet(os.path.join(OUT, "documents.parquet")))

    emb = table(spark, SRC, "embeddings").withColumn("k", reps)
    jitter = F.transform("embedding",
                         lambda x: x + F.col("k").cast("float") * 1e-4)
    (emb.select(
        (F.col("vec_id") + F.col("k") * 1_000_000).alias("vec_id"),
        jitter.alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding", "k")])
     .write.mode("overwrite").parquet(os.path.join(OUT, "embeddings.parquet")))

    with open(os.path.join(OUT, "_STAGED"), "w") as fh:
        fh.write("ok")


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.range(1).count()
    stage(spark)
    defs = all_queries()
    results = {}
    # optional argv subset: scripts/scale_smoke.py q1 q2 ... (fast loop
    # while iterating on one family; default = full list + recall gates)
    names = sys.argv[1:] or QUERIES
    for name in names:
        fn = defs[name].fn
        t0 = time.perf_counter()
        n_small = fn(spark, SRC).count()
        t_small = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_big = fn(spark, OUT).count()
        t_big = time.perf_counter() - t0
        results[name] = {
            "sf0.1_sec": round(t_small, 2), "x10_sec": round(t_big, 2),
            "ratio": round(t_big / max(t_small, 1e-9), 1),
            "rows_small": n_small, "rows_big": n_big,
        }
        print(json.dumps({name: results[name]}), flush=True)

    if sys.argv[1:]:
        return  # subset run: skip the full-list recall gates

    # planted-dup recall must SURVIVE the scale-up: the fixed df<=50 cap
    # regression returned 0 pairs at 10x (every planted shingle blocked);
    # the corpus-relative cap must keep every planted pair found at sf0.1
    planted = {}
    for scale, path in (("small", SRC), ("big", OUT)):
        rows = (defs["ngram_jaccard_pairs"].fn(spark, path)
                .where((F.col("a") < 20) & (F.col("b") == F.col("a") + 100000))
                .collect())
        planted[scale] = {r.a for r in rows}
    assert planted["small"], "no planted ngram pairs found at sf0.1"
    missing = planted["small"] - planted["big"]
    assert not missing, f"planted-dup recall lost at 10x: missing {missing}"
    results["ngram_planted_recall"] = {
        "found_small": len(planted["small"]), "found_big": len(planted["big"]),
        "complete_at_10x": True,
    }
    print(json.dumps({"ngram_planted_recall": results["ngram_planted_recall"]}),
          flush=True)

    # planted ER recall: the round-5 collapse mode was SILENT — a too-
    # coarse blocking key made every block overflow the skew cap at 20k
    # parts and the matcher returned zero rows (oracle agreed: 0 == 0).
    # Gate recall of the planted typo pairs at BOTH scales so key
    # coarseness vs corpus size can never regress quietly again.
    from fts_errors_clustering_spark.operators.linkage import (PLANT_N,
                                                               PLANT_OFFSET)
    for scale, path in (("small", SRC), ("big", OUT)):
        got = {(r.part_a, r.part_b)
               for r in defs["part_entity_matches"].fn(spark, path)
               .where(F.col("part_a") < PLANT_N).collect()}
        want = {(k, k + PLANT_OFFSET) for k in range(PLANT_N)}
        missing = want - got
        assert not missing, f"planted ER recall lost at {scale}: {missing}"
    results["er_planted_recall"] = {"complete_both_scales": True,
                                    "n_planted": PLANT_N}
    print(json.dumps({"er_planted_recall": results["er_planted_recall"]}),
          flush=True)

    # LSH-DBSCAN crossover: the 10x vectors (20k rows) sit exactly at the
    # driver-kernel tier boundary where exact DBSCAN pays its worst case
    # (tier hand-off + ~100x-densified eps-graph). Run the approximate-
    # candidate twin on the SAME vectors: side-by-side timing makes the
    # tier hand-off measurable, and the >=95% label agreement gate from
    # tests/test_dbscan.py must hold at this scale too, or the at-scale
    # path isn't a drop-in for the exact one.
    t0 = time.perf_counter()
    exact = {r.vec_id: r.cluster
             for r in defs["dbscan_labels"].fn(spark, OUT).collect()}
    t_exact = time.perf_counter() - t0
    t0 = time.perf_counter()
    lsh = {r.vec_id: r.cluster
           for r in defs["dbscan_labels_lsh"].fn(spark, OUT).collect()}
    t_lsh = time.perf_counter() - t0
    agree = (sum(1 for k in exact if exact[k] == lsh.get(k))
             / max(len(exact), 1))
    assert agree >= 0.95, f"LSH-DBSCAN agreement {agree:.3f} < 0.95 at 10x"
    results["dbscan_lsh_crossover"] = {
        "exact_10x_sec": round(t_exact, 2), "lsh_10x_sec": round(t_lsh, 2),
        "n_points": len(exact), "label_agreement": round(agree, 4),
    }
    print(json.dumps(
        {"dbscan_lsh_crossover": results["dbscan_lsh_crossover"]}), flush=True)

    # documents-side skew chaos: plant a 95%-hot lang key on the 10x corpus
    # (50k docs, one lane-busting hot group) and check the salted two-level
    # members aggregation (a) equals the plain single-level definition
    # exactly and (b) doesn't fall off a cliff vs the un-skewed shape. The
    # salted plan's claim is that hot keys become n_salt parallel lanes —
    # this is the input where that claim earns its keep.
    from fts_errors_clustering_spark.operators.scale import salted_members
    docs10 = table(spark, OUT, "documents")
    skewed = docs10.withColumn(
        "lang", F.when(F.col("doc_id") % 20 != 0, F.lit("xx"))
                 .otherwise(F.col("lang")))
    t0 = time.perf_counter()
    salted = {r["lang"]: (r.n_members, r.members)
              for r in salted_members(skewed, "lang", "doc_id").collect()}
    t_salted = time.perf_counter() - t0
    plain = (skewed.groupBy("lang")
             .agg(F.array_sort(F.collect_set("doc_id")).alias("arr"))
             .select("lang", F.size("arr").cast("long").alias("n"),
                     F.array_join(F.col("arr").cast("array<string>"), ",")
                      .alias("m")))
    want = {r["lang"]: (r.n, r.m) for r in plain.collect()}
    assert salted == want, "salted members diverged from plain on skew"
    hot = salted["xx"][0]
    assert hot >= 0.9 * docs10.count(), f"hot key holds only {hot} docs"
    results["salted_skew_chaos"] = {
        "hot_key_members": int(hot), "n_keys": len(salted),
        "salted_sec": round(t_salted, 2), "exact_match": True,
    }
    print(json.dumps({"salted_skew_chaos": results["salted_skew_chaos"]}),
          flush=True)
    print(json.dumps({"metric": "scale_smoke_10x", "queries": results}))


if __name__ == "__main__":
    main()
