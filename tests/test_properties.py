"""Property-based tests (hypothesis) for the shared column functions —
the invariants the reference only eyeballed (SURVEY.md §5): masking is
idempotent and whitespace-stable, tokenization never emits empty tokens,
the hash family stays in range and agrees across its two derivations.

Each hypothesis example carries a LIST of strings through one Spark job
(batched round trip; per-example jobs would be pathologically slow), with
few examples and no deadline — Spark latency is seconds, not ms.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from fts_errors_clustering_spark.functions.text import (fuzz_ratio, hash32,
                                                        hash32_hi,
                                                        mask_error_text,
                                                        whitespace_tokens)

from .conftest import SF_SMALL

SET = settings(max_examples=8, deadline=None)

# printable-ish text incl. the masked alphabets (hex runs, uuids, digits)
TEXT = st.text(
    alphabet=st.sampled_from("abcdef0123456789-xyz _\t:.ATLINE"),
    max_size=80)
BATCH = st.lists(TEXT, min_size=1, max_size=40)


def _roundtrip(spark, strings, *cols):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    return df.select(*cols).collect()


@SET
@given(BATCH)
def test_mask_idempotent(spark, batch):
    rows = _roundtrip(
        spark, batch,
        mask_error_text("s").alias("once"))
    df2 = spark.createDataFrame([(r.once,) for r in rows], "s string")
    rows2 = df2.select(mask_error_text("s").alias("twice")).collect()
    assert [r.once for r in rows] == [r.twice for r in rows2]


@SET
@given(BATCH)
def test_mask_collapses_whitespace(spark, batch):
    rows = _roundtrip(spark, batch, mask_error_text("s").alias("m"))
    for r in rows:
        assert "  " not in r.m and "\t" not in r.m
        assert r.m == r.m.strip()


@SET
@given(BATCH)
def test_tokens_nonempty_lowercase(spark, batch):
    rows = _roundtrip(spark, batch, whitespace_tokens("s").alias("t"))
    for r in rows:
        for tok in r.t:
            assert tok != "" and tok == tok.lower()


@SET
@given(BATCH)
def test_hash32_range_and_independence(spark, batch):
    rows = _roundtrip(spark, batch,
                      hash32("s").alias("h1"), hash32_hi("s").alias("h2"))
    for r in rows:
        assert 0 <= r.h1 < 2 ** 32 and 0 <= r.h2 < 2 ** 32
        # double-hashing family stays in 32-bit range for every seed
        for s in range(16):
            assert 0 <= (r.h1 + s * r.h2) % 4294967296 < 2 ** 32


@SET
@given(BATCH)
def test_fuzz_ratio_bounds_and_identity(spark, batch):
    df = spark.createDataFrame([(s, s[::-1]) for s in batch],
                               "a string, b string")
    rows = df.select(fuzz_ratio("a", "b").alias("ab"),
                     fuzz_ratio("a", "a").alias("aa")).collect()
    for r in rows:
        assert 0.0 <= r.ab <= 100.0
        assert r.aa == 100.0


def test_stratified_sample_balances(spark):
    """sampleBy with per-class fractions must land every class within
    binomial noise of the minority-class target (class-balancing
    contract of stratified_doc_sample)."""
    from fts_errors_clustering_spark.operators.textstats import \
        stratified_doc_sample

    rows = stratified_doc_sample(spark, "/root/testdata/sf0.01").collect()
    target = min(r.n_total for r in rows)
    for r in rows:
        # expected ~target; allow 5 sigma of Binomial(n_total, target/n_total)
        sigma = (target * (1 - target / r.n_total)) ** 0.5
        assert abs(r.n_sampled - target) <= max(5 * sigma, 10), r


def test_bigram_logprob_invariants(spark):
    """Add-one-smoothed bigram log-probs are strictly negative (every
    probability < 1 once V >= 2), finite, and cover exactly the docs with
    >= 2 tokens."""
    import math

    from pyspark.sql import functions as F

    from fts_errors_clustering_spark.functions.text import whitespace_tokens
    from fts_errors_clustering_spark.plans.registry import all_queries
    from fts_errors_clustering_spark.sources.readers import table

    rows = all_queries()["bigram_logprob_scores"].fn(spark, SF_SMALL).collect()
    docs = table(spark, SF_SMALL, "documents")
    expected = (docs.where(F.length(F.trim("text")) > 0)
                .where(F.size(whitespace_tokens(F.lower(F.col("text")))) >= 2)
                .count())
    assert len(rows) == expected
    for r in rows:
        assert r.n_bigrams >= 1
        assert math.isfinite(r.avg_logprob) and r.avg_logprob < 0.0, r


def test_contamination_bounds_and_benchmark_exclusion(spark):
    """Contamination ratios sit in (0, 1]; benchmark docs themselves are
    never reported; every reported doc clears the 0.2 threshold."""
    from fts_errors_clustering_spark.plans.registry import all_queries

    rows = (all_queries()["benchmark_contamination"]
            .fn(spark, SF_SMALL).collect())
    for r in rows:
        assert r.doc_id >= 10
        assert 1 <= r.n_overlap <= r.n_shingles
        assert 0.2 <= r.overlap_ratio <= 1.0, r


def test_knee_sweep_consistent_with_argmax(spark):
    """The sweep's rows cover every sensitivity; epsilons are drawn from
    the kNN curve; chosen_epsilon is their max; and the S->0 argmax knee
    (knn_knee_epsilon) never exceeds the sweep's chosen epsilon."""
    from fts_errors_clustering_spark.operators.knn import SENSITIVITIES
    from fts_errors_clustering_spark.plans.registry import all_queries

    sweep = all_queries()["knn_knee_sweep"].fn(spark, SF_SMALL).collect()
    assert sorted(r.sensitivity for r in sweep) == sorted(SENSITIVITIES)
    chosen = {r.chosen_epsilon for r in sweep}
    assert len(chosen) == 1
    assert max(r.epsilon for r in sweep) == chosen.pop()
    argmax = all_queries()["knn_knee_epsilon"].fn(spark, SF_SMALL).first()
    assert argmax.epsilon <= max(r.epsilon for r in sweep) + 1e-9


@SET
@given(st.lists(st.lists(st.sampled_from("abcde"), min_size=1, max_size=12),
                min_size=2, max_size=12))
def test_bm25_matches_python_reference(spark, corpora):
    """bm25_rank against a pure-Python BM25 on random tiny corpora: scores
    (rounded 6dp) and ranking must agree exactly."""
    import math

    from fts_errors_clustering_spark.operators.retrieval import (_B, _K1,
                                                                 bm25_rank)
    docs = [(i, toks) for i, toks in enumerate(corpora)]
    toks_df = spark.createDataFrame(
        [(i, t) for i, ts in docs for t in ts], "doc_id long, token string")
    qterm = corpora[0][0]  # guaranteed present
    q = spark.createDataFrame([(1, qterm)], "query_id long, token string")
    got = {r.doc_id: r.score
           for r in bm25_rank(toks_df, q, top_k=100).collect()}

    n = len(docs)
    dls = {i: len(ts) for i, ts in docs}
    avgdl = sum(dls.values()) / n
    df_t = sum(1 for _, ts in docs if qterm in ts)
    idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
    ref = {}
    for i, ts in docs:
        tf = ts.count(qterm)
        if tf:
            ref[i] = round(idf * (tf * (_K1 + 1.0)) /
                           (tf + _K1 * (1.0 - _B + _B * (dls[i] / avgdl))), 6)
    assert got == ref


@SET
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=60))
def test_global_rank_matches_sorted_order(spark, values):
    """global_value_rank's bucket+offset composition must equal the plain
    sorted order on random values (duplicates included)."""
    import os
    import tempfile

    from fts_errors_clustering_spark.plans.registry import all_queries
    rows = [(i, float(v)) for i, v in enumerate(values + values[:3])]
    with tempfile.TemporaryDirectory() as td:
        (spark.createDataFrame(rows, "event_id long, value double")
         .selectExpr("event_id", "CAST(event_id AS BIGINT) AS user_id",
                     "'x' AS event_type",
                     "TIMESTAMP '2024-01-01 00:00:00' AS ts",
                     "value", "'{}' AS props")
         .write.mode("overwrite").parquet(os.path.join(td, "events.parquet")))
        got = {r.event_id: r.rk for r in
               all_queries()["global_value_rank"].fn(spark, td).collect()}
    expected = {eid: rk + 1 for rk, (eid, _) in
                enumerate(sorted(rows, key=lambda t: (t[1], t[0])))}
    assert got == expected


@SET
@given(st.lists(st.tuples(
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False),
    st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=120))
def test_bucketed_rank_equals_window_rank(spark, rows):
    """The scale.py two-phase global rank (quantile_buckets +
    bucket_prefix_offsets + within-bucket row_number) must equal the
    single-partition ROW_NUMBER definition on ARBITRARY value
    distributions — duplicates, constants, and skew included. This is the
    helper packed_sequences stands on."""
    from pyspark.sql import Window
    from fts_errors_clustering_spark.operators.scale import (
        bucket_prefix_offsets, quantile_buckets)

    df = spark.createDataFrame(rows, "v double, id long").distinct()
    bucketed = quantile_buckets(df, "v", n_buckets=7)
    off = bucket_prefix_offsets(bucketed, F.count("*"))
    wb = Window.partitionBy("bucket").orderBy("v", "id")
    got = {(r.v, r.id): r.rk for r in bucketed.withColumn(
        "rk", (off + F.row_number().over(wb)).cast("long")).collect()}
    ref = {(r.v, r.id): r.rk for r in df.withColumn(
        "rk", F.row_number().over(Window.orderBy("v", "id")).cast("long"))
        .collect()}
    assert got == ref


def test_bucket_expr_matches_column_form(spark):
    """``bucket_expr``'s one-string form must hand Catalyst the tree the
    Column chain built — the same analyzed expression and the same
    bucket per value — for negative, exponent-form and integral bounds;
    non-finite bounds must bucket the same."""
    import re

    from fts_errors_clustering_spark.operators.scale import bucket_expr

    def column_form(col, bounds):
        return sum((F.when(F.col(col) > F.lit(b), 1).otherwise(0)
                    for b in sorted(set(bounds))), F.lit(0))

    df = spark.createDataFrame(
        [(v,) for v in (-3.0, -2.5, -1e-07, 0.0, 1e-05, 0.05, 0.1, 2.0,
                        3.0, 7.0, 8.5, 1.3e16, float("inf"))], "v double")

    def analyzed(c):
        plan = df.select(c.alias("b"))._jdf.queryExecution().analyzed()
        return re.sub(r"#\d+", "", plan.toString())

    def values(c):
        return [r.b for r in df.select(c.alias("b")).collect()]

    finite = [0.1, -2.5, 1e-05, 3.0, -1e-07, 7, 1e16, 3.0]
    assert analyzed(bucket_expr("v", finite)) == analyzed(
        column_form("v", finite))
    assert values(bucket_expr("v", finite)) == values(
        column_form("v", finite))
    assert values(bucket_expr("v", [])) == values(column_form("v", []))
    inf = [float("-inf"), 0.0, float("inf")]
    assert values(bucket_expr("v", inf)) == values(column_form("v", inf))


@SET
@given(st.lists(st.tuples(
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=1, max_value=500)),
    min_size=1, max_size=120))
def test_bucketed_prefix_sum_equals_window_cumsum(spark, rows):
    """Exclusive bucket-prefix cumsum == the unpartitioned exclusive
    running SUM (the packed_sequences offset definition)."""
    from pyspark.sql import Window
    from fts_errors_clustering_spark.operators.scale import (
        bucket_prefix_offsets, quantile_buckets)

    df = (spark.createDataFrame(rows, "id long, n long")
          .groupBy("id").agg(F.max("n").alias("n")))  # unique ids
    bucketed = quantile_buckets(df, "id", n_buckets=5)
    off = bucket_prefix_offsets(bucketed, F.sum("n"))
    wb = (Window.partitionBy("bucket").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1))
    got = {r.id: r.off for r in bucketed.withColumn(
        "off", off + F.coalesce(F.sum("n").over(wb), F.lit(0))).collect()}
    wall = (Window.orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1))
    ref = {r.id: r.off for r in df.withColumn(
        "off", F.coalesce(F.sum("n").over(wall), F.lit(0))).collect()}
    assert got == ref


@SET
@given(st.lists(st.integers(min_value=0, max_value=4),
                min_size=2, max_size=90))
def test_global_rank_column_heavy_ties(spark, small_vals):
    """global_rank_column (the reusable two-phase rank RFM stands on) must
    equal ROW_NUMBER under HEAVY ties — a 5-value domain puts most rows on
    quantile split points, the regime where a bucketing bug would split a
    tie group across buckets and corrupt ranks."""
    from pyspark.sql import Window
    from fts_errors_clustering_spark.operators.scale import global_rank_column

    rows = [(i, v) for i, v in enumerate(small_vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {r.id: r.rk for r in
           global_rank_column(df, "v", "id", "rk").collect()}
    ref = {r.id: r.rk for r in df.withColumn(
        "rk", F.row_number().over(Window.orderBy("v", "id")).cast("long"))
        .collect()}
    assert got == ref


@SET
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=60),
                          st.integers(min_value=0, max_value=60)),
                min_size=1, max_size=60))
def test_backlog_sweep_equals_bruteforce(spark, iv):
    """open_orders_backlog's +1/-1 delta sweep must equal the brute-force
    per-day stabbing count over random half-open intervals."""
    import datetime as dt
    import os
    import tempfile

    from fts_errors_clustering_spark.plans.registry import all_queries

    base = dt.date(1996, 1, 1)
    spans = [(min(a, b), max(a, b)) for a, b in iv]
    orders = [(i, dt.datetime.combine(base + dt.timedelta(days=s),
                                      dt.time()), i, "O", 1.0, "P")
              for i, (s, _e) in enumerate(spans)]
    lines = [(i, i, i, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
              dt.datetime.combine(base + dt.timedelta(days=e), dt.time()))
             for i, (_s, e) in enumerate(spans)]
    with tempfile.TemporaryDirectory() as td:
        (spark.createDataFrame(
            orders, "o_orderkey long, o_orderdate timestamp, o_custkey long,"
                    "o_orderstatus string, o_totalprice double,"
                    "o_orderpriority string")
         .write.parquet(os.path.join(td, "orders.parquet")))
        (spark.createDataFrame(
            lines, "l_orderkey long, l_partkey long, l_suppkey long,"
                   "l_linenumber long, l_quantity double,"
                   "l_extendedprice double, l_discount double, l_tax double,"
                   "l_returnflag string, l_linestatus string,"
                   "l_shipdate timestamp")
         .write.parquet(os.path.join(td, "lineitem.parquet")))
        got = {r.day: r.open_orders for r in
               all_queries()["open_orders_backlog"].fn(spark, td).collect()}
    days = sorted({d for s, e in spans for d in (s, e)})
    ref = {base + dt.timedelta(days=d):
           sum(1 for s, e in spans if s <= d < e) for d in days}
    assert got == ref


@SET
@given(st.lists(st.tuples(
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=-50, max_value=500)),
    min_size=1, max_size=120))
def test_bucket_prefix_running_max_equals_window_cummax(spark, rows):
    """Exclusive bucket-prefix running max (the pareto_frontier_parts
    threshold composition) == the unpartitioned exclusive running MAX,
    on arbitrary distributions — duplicates and skew included."""
    from pyspark.sql import Window
    from fts_errors_clustering_spark.operators.scale import (
        bucket_prefix_running_max, quantile_buckets)

    df = (spark.createDataFrame(rows, "id long, n long")
          .groupBy("id").agg(F.max("n").alias("n")))  # unique keys
    bucketed = quantile_buckets(df, "id", n_buckets=5)
    off = bucket_prefix_running_max(bucketed, "n")
    wb = (Window.partitionBy("bucket").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1))
    got = {r.id: r.below for r in bucketed.withColumn(
        "below", F.greatest(F.max("n").over(wb), off)).collect()}
    wall = (Window.orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1))
    ref = {r.id: r.below for r in df.withColumn(
        "below", F.max("n").over(wall)).collect()}
    assert got == ref


def test_skyline_equals_bruteforce_dominance(spark):
    """pareto_frontier_parts' sorted-sweep plan must equal the quadratic
    dominance definition computed independently in Python on the fixture."""
    from fts_errors_clustering_spark.operators.scale import (
        pareto_frontier_parts)
    from fts_errors_clustering_spark.sources.readers import table

    pts = [(r.p_partkey, r.p_retailprice, r.p_size)
           for r in table(spark, SF_SMALL, "part")
           .select("p_partkey", "p_retailprice", "p_size").collect()]
    brute = {k for k, pr, sz in pts
             if not any(qr <= pr and qs >= sz and (qr < pr or qs > sz)
                        for _, qr, qs in pts)}
    got = {r.p_partkey for r in pareto_frontier_parts(spark, SF_SMALL)
           .collect()}
    assert got == brute and got


def test_gini_and_trend_match_numpy(spark):
    """revenue_gini_by_nation / nation_revenue_trend vs independent numpy
    derivations (sorted-rank Gini; polyfit slope) on the fixture."""
    import numpy as np
    from fts_errors_clustering_spark.operators.relational import (
        nation_revenue_trend, revenue_gini_by_nation)
    from fts_errors_clustering_spark.sources.readers import table

    o = (table(spark, SF_SMALL, "orders")
         .join(table(spark, SF_SMALL, "customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(table(spark, SF_SMALL, "nation"),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("n_name", "o_custkey", "o_totalprice",
                 F.to_date("o_orderdate").alias("day")).collect())
    by_nat: dict = {}
    for r in o:
        by_nat.setdefault(r.n_name, []).append(r)
    for row in revenue_gini_by_nation(spark, SF_SMALL).collect():
        rows = by_nat[row.n_name]
        rev: dict = {}
        for r in rows:
            rev[r.o_custkey] = rev.get(r.o_custkey, 0) + round(
                r.o_totalprice * 100)
        x = np.sort(np.array(list(rev.values()), dtype=float))
        n = len(x)
        want = 2.0 * (np.arange(1, n + 1) * x).sum() / (n * x.sum()) \
            - (n + 1.0) / n
        assert row.n_customers == n
        assert abs(row.gini - want) < 1e-12
        assert 0.0 <= row.gini < 1.0
    for row in nation_revenue_trend(spark, SF_SMALL).collect():
        daily: dict = {}
        epoch = __import__("datetime").date(1995, 1, 1)
        for r in by_nat[row.n_name]:
            d = (r.day - epoch).days
            daily[d] = daily.get(d, 0) + round(r.o_totalprice * 100)
        xs = np.array(sorted(daily), dtype=float)
        ys = np.array([daily[k] for k in sorted(daily)], dtype=float)
        want = np.polyfit(xs, ys, 1)[0] / 100.0
        assert row.n_days == len(xs)
        assert abs(row.slope_dollars_per_day - want) < 1e-6 * max(
            1.0, abs(want))


def test_autocorrelation_matches_numpy(spark):
    """revenue_autocorrelation vs numpy corrcoef on the lag-paired daily
    series, plus the lag-0 r == 1 identity."""
    import numpy as np
    from fts_errors_clustering_spark.operators.relational import (
        revenue_autocorrelation)
    from fts_errors_clustering_spark.sources.readers import table

    daily: dict = {}
    for r in (table(spark, SF_SMALL, "orders")
              .select(F.to_date("o_orderdate").alias("day"), "o_totalprice")
              .collect()):
        daily[r.day] = daily.get(r.day, 0) + round(r.o_totalprice * 100)
    got = {r.lag: (r.n_days, r.r)
           for r in revenue_autocorrelation(spark, SF_SMALL).collect()}
    assert abs(got[0][1] - 1.0) < 1e-12
    for lag, (n, r) in got.items():
        xs, ys = [], []
        for d, v in daily.items():
            d2 = d + __import__("datetime").timedelta(days=lag)
            if d2 in daily:
                xs.append(float(v))
                ys.append(float(daily[d2]))
        assert n == len(xs)
        want = float(np.corrcoef(xs, ys)[0, 1])
        assert abs(r - want) < 1e-9


def test_twa_matches_bruteforce_integration(spark):
    """twa_value_per_user vs a direct python step-integration per user."""
    from fts_errors_clustering_spark.operators.windows import (
        twa_value_per_user)
    from fts_errors_clustering_spark.sources.readers import table

    rows = (table(spark, SF_SMALL, "events")
            .where(F.col("value").isNotNull())
            .select("user_id", "event_id", F.unix_micros("ts").alias("t"),
                    "value").collect())
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.t, r.event_id, r.value))
    got = {r.user_id: (r.n_obs, r.span_us, r.twa_value)
           for r in twa_value_per_user(spark, SF_SMALL).collect()}
    expect_users = {u for u, obs in by_user.items()
                    if max(t for t, _, _ in obs) > min(t for t, _, _ in obs)}
    assert set(got) == expect_users
    for u in expect_users:
        obs = sorted(by_user[u], key=lambda x: (x[0], x[1]))
        num = sum(round(v * 10**6) * (obs[i + 1][0] - t)
                  for i, (t, _, v) in enumerate(obs[:-1])) / 10**6
        span = obs[-1][0] - obs[0][0]
        n, s, twa = got[u]
        assert n == len(obs) and s == span
        assert abs(twa - num / span) < 1e-9 * max(1.0, abs(twa))


def test_retention_curve_and_weighted_quantiles_invariants(spark):
    """Monotonicity of the retention curve (raising the cut never keeps
    more docs/tokens, never lowers the kept-set mean) and the
    weighted-quantile crossing property checked against a direct
    cumulative scan."""
    from fts_errors_clustering_spark.operators.textstats import (
        doc_quality_scores, quality_retention_curve,
        token_weighted_quality_quantiles)

    curve = sorted(quality_retention_curve(spark, SF_SMALL).collect(),
                   key=lambda r: r.lvl)
    assert curve[0].lvl == 0
    for a, b in zip(curve, curve[1:]):
        assert a.cut <= b.cut
        assert a.n_docs >= b.n_docs and a.n_tokens >= b.n_tokens
        assert a.mean_quality <= b.mean_quality + 1e-12

    q = sorted(((r.quality, r.doc_id, r.n_tokens)
                for r in doc_quality_scores(spark, SF_SMALL).collect()))
    total = sum(w for _, _, w in q)
    for row in token_weighted_quality_quantiles(spark, SF_SMALL).collect():
        cum, want = 0, None
        for qual, _, w in q:
            cum += w
            if cum >= row.p * total:
                want = qual
                break
        assert row.weighted_quality == want


def test_histogram_quantile_rollup_bound_and_merge(spark):
    """The rollup's within_bin_bound verdict must hold on every week (the
    approx median from the merged daily states sits within one bin width
    of the exact median), and the approx median must equal the bin-center
    formula exactly — pinned against a numpy recomputation from the raw
    fixture."""
    import numpy as np

    from fts_errors_clustering_spark.operators.scale import (
        HQ_BIN_W, histogram_quantile_rollup)
    from fts_errors_clustering_spark.sources.readers import table

    rows = histogram_quantile_rollup(spark, SF_SMALL).collect()
    assert rows
    ev = (table(spark, SF_SMALL, "events")
          .where("value is not null")
          .selectExpr("date_trunc('week', ts) AS week", "value").collect())
    by_week = {}
    for r in ev:
        by_week.setdefault(r.week, []).append(r.value)
    for r in rows:
        assert abs(r.approx_median
                   - (r.median_bin * HQ_BIN_W + HQ_BIN_W / 2)) < 1e-9
        vals = np.array(sorted(by_week[r.week]))
        assert len(vals) == r.n
        # The ALWAYS-provable property: median_bin is by construction the
        # bin holding the ceil(n/2)-th smallest value (min bin with
        # 2*cum >= n), independent of interpolation.
        lower_mid = vals[(r.n - 1) // 2]
        assert int(np.floor(lower_mid / HQ_BIN_W)) == r.median_bin, r
        # The one-bin-width bound on the INTERPOLATED median is provable
        # only for odd n (the median IS the lower-mid element, which lives
        # in median_bin).  For even n the midpoint of the two middle
        # values can legitimately sit many bins above median_bin (e.g.
        # values [1, 100] with bin width 2), so within_bin_bound is a
        # reported verdict there, not an invariant.
        if r.n % 2 == 1:
            assert r.within_bin_bound, r
            assert (abs(float(np.median(vals)) - r.approx_median)
                    <= HQ_BIN_W + 1e-9)
