"""kNN average-distance curve (M16) and the knee/epsilon search (M17) —
the DBSCAN-parameter stage of the reference's word2vec path
(``/root/reference/notebooks/word2vec_dbscan_approach.ipynb:172-189`` kNN,
``:191-221`` knee), SURVEY.md section 2.7.

The reference fits ``sklearn.NearestNeighbors`` on the dense embedding
matrix, column-sorts the distance matrix and takes per-row means, then runs
``kneed.KneeLocator``. Here:

- M16 = one numpy-kernel pass (``operators/pairwise.topk_candidate_pairs``)
  that prunes n-1 candidates per point to ~k at BLAS speed, ranks them by
  exact distance and emits each point's top k, then an exact decimal mean
  per point. The distances are the ``euclidean`` fold (the SAME IEEE
  operation sequence as the DuckDB oracle's SQL chain), ranked by
  ``(dist, other_id)`` exactly as the oracle's window; the GEMM pass only
  prunes. The 100 TB path swaps the kernel's broadcast candidate
  source for ``BucketedRandomProjectionLSH.approxSimilarityJoin`` (see
  operators/similarity.py).
- M17 = the Kneedle difference-curve on the sorted means, restated as pure
  window algebra: normalize x and y to [0,1], knee = argmax(x_hat - y_hat)
  (the convex-increasing case of Kneedle; the reference's sensitivity sweep
  and max-of-elbows selection documented as a delta). The curve has one row
  PER EMBEDDING POINT, so its global position index is built with the
  two-phase bucket prefix-sum (``operators/scale.quantile_buckets`` +
  ``bucket_prefix_offsets``) and its global scalars (n, ymin, ymax) with a
  1-row aggregate broadcast back — no unpartitioned window anywhere: an
  ``orderBy``-only window is always a SinglePartition exchange, a
  single-task sort at n = 10^9 points. The sweep's lag/lead neighbours are
  idx+-1 self-joins (hash shuffle) and its running max is a per-bucket scan
  + driver prefix-max over <= n_buckets values — the full distributed
  prefix-scan decomposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import sql_euclidean
from ..plans.registry import register
from ..sources.readers import table
from .pairwise import topk_candidate_pairs

DIM = 64  # fixture embedding dimension (FIXTURES.md B3)

_KNN_CTE = f"""
    k AS (SELECT CAST(round(sqrt(COUNT(*)), 0) AS BIGINT) AS k FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS other_id,
             {sql_euclidean('a.embedding', 'b.embedding', DIM)} AS dist
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, other_id) AS rn
      FROM pairs
    ),
    knn AS (
      SELECT vec_id,
             CAST(CAST(SUM(CAST(dist AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean_dist
      FROM ranked WHERE rn <= (SELECT k FROM k)
      GROUP BY vec_id
    )
"""


def knn_mean_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared plan: per-point mean distance to its k=round(sqrt(n)) nearest
    neighbors (the reference's ``kneighbors`` with k=sqrt(n), ``:178``)."""
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    # half-up, matching the oracle's SQL ROUND (Python round() is
    # banker's; sqrt(int) landing on an exact .5 is ~impossible in
    # binary, but the k derivation should not depend on that argument)
    k = int(n ** 0.5 + 0.5)
    topk = topk_candidate_pairs(emb, "vec_id", "embedding", k)
    return (topk.groupBy(F.col("a").alias("vec_id"))
            .agg((F.sum(F.col("dist").cast("decimal(27,18)"))
                   .cast("string").cast("double") / F.count("*"))
                 .alias("mean_dist")))


@register(
    "knn_mean_distance",
    oracle=f"""
    WITH {_KNN_CTE}
    SELECT vec_id, ROUND(mean_dist, 6) AS mean_knn_dist FROM knn
    """,
    tags=("knn", "vectors"),
)
def knn_mean_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16: exact kNN mean-distance per point, oracle-checked."""
    return (knn_mean_distances(spark, sf_dir)
            .select("vec_id", F.round("mean_dist", 6).alias("mean_knn_dist")))


def _indexed_curve(knn: DataFrame,
                   caches: list[DataFrame] | None = None):
    """The sorted kNN-mean curve with a global 0-based position ``idx`` and
    the curve scalars (n, ymin, ymax) attached — built WITHOUT a
    single-partition window: quantile-bucketed rank (scale.py two-phase
    pattern) for idx, a broadcast 1-row aggregate for the scalars. Keeps
    the ``bucket`` column so downstream prefix scans can reuse it. The
    internal kNN cache is appended to ``caches`` so the caller can release
    it once its bounded output materializes (graph.materialize_release).

    Returns ``(curve, meta)`` where meta carries the raw per-bucket rows
    of the offsets collect (bucket, cnt, mn, mx), the derived offsets map,
    and the folded scalars — so consumers needing per-bucket boundary
    facts (the sweep's cross-bucket lag/lead values) derive them from THIS
    collect instead of running their own (guide §2.4)."""
    from .scale import bucket_prefix_offsets_multi, quantile_buckets
    # cache BEFORE the quantile pass: approxQuantile is an action, and the
    # upstream kNN kernel must not run once for the split points and again
    # for the offsets/window
    knn = knn.select("vec_id", "mean_dist").cache()
    if caches is not None:
        caches.append(knn)
    bucketed = quantile_buckets(knn, "mean_dist")
    # ONE <=n_buckets-row collect yields the rank offsets AND the curve
    # scalars (n = sum of bucket counts, ymin/ymax = min/max of bucket
    # extrema — the identical doubles): the separate 1-row scalar
    # aggregate branch + crossJoin this replaces re-scanned the cached
    # curve once per consumer (guide §2.4 — same-keyed work shares one
    # pass; measured as one fewer exchange + one fewer stage in every
    # curve consumer)
    offm = bucket_prefix_offsets_multi(
        bucketed, maps=("cnt",), cnt=F.count("*"),
        mn=F.min("mean_dist"), mx=F.max("mean_dist"))
    rows = offm["rows"]
    n = sum(r["cnt"] for r in rows)
    ymin = min((r["mn"] for r in rows), default=None)
    ymax = max((r["mx"] for r in rows), default=None)
    offsets, acc = {}, 0
    for r in sorted(rows, key=lambda r: r["bucket"]):
        offsets[r["bucket"]] = acc
        acc += r["cnt"]
    meta = {"rows": rows, "offsets": offsets,
            "n": n, "ymin": ymin, "ymax": ymax}
    wb = Window.partitionBy("bucket").orderBy("mean_dist", "vec_id")
    curve = (bucketed
             .withColumn("idx", (offm["cnt"] + F.row_number().over(wb) - 1)
                         .cast("long"))
             .withColumn("n", F.lit(n).cast("long"))
             .withColumn("ymin", F.lit(ymin).cast("double"))
             .withColumn("ymax", F.lit(ymax).cast("double")))
    return curve, meta


def knee_epsilon_value(knn: DataFrame, id_col: str = "vec_id") -> float:
    """Distributed Kneedle knee -> epsilon as a Python scalar: the
    ``knn_knee_epsilon`` plan (bucket-prefix-sum global index, broadcast
    1-row scalars, argmax via TakeOrderedAndProject) reduced to ONE driver
    row — the per-point curve is never collected, so the driver
    materialization is O(1) at any corpus size (vs the O(n) ``collect()``
    of the curve the reference does at ``word2vec_dbscan_approach.ipynb:
    191-198``, which at 10^9 points is a multi-GB driver pull).

    Degenerate-corpus note (the reference author hit this and hand-set
    eps=20, SURVEY.md 2.9.3): when the kNN-mean curve is near-flat or
    convex-decreasing, the Kneedle argmax lands on an epsilon that puts
    almost the whole corpus in one DBSCAN cluster. The knee is still the
    deterministic, reference-faithful value — callers that observe a
    degenerate clustering should pass eps explicitly, exactly as the
    reference did."""
    caches: list[DataFrame] = []
    curve, _meta = _indexed_curve(
        knn.select(F.col(id_col).alias("vec_id"), "mean_dist"), caches)
    span = F.col("ymax") - F.col("ymin")
    diffs = curve.select(
        "idx", "mean_dist",
        ((F.col("idx").cast("double") / F.greatest(F.col("n") - 1, F.lit(1)))
         - F.when(span > 0, (F.col("mean_dist") - F.col("ymin")) / span)
            .otherwise(F.lit(0.0))).alias("d"))
    try:
        row = diffs.orderBy(F.desc("d"), F.asc("idx")).limit(1).first()
    finally:
        for c in caches:
            c.unpersist()
    return float(row.mean_dist)


@register(
    "knn_knee_epsilon",
    oracle=f"""
    WITH {_KNN_CTE},
    curve AS (
      SELECT mean_dist,
             ROW_NUMBER() OVER (ORDER BY mean_dist, vec_id) - 1 AS idx,
             COUNT(*) OVER () AS n,
             MIN(mean_dist) OVER () AS ymin,
             MAX(mean_dist) OVER () AS ymax
      FROM knn
    ),
    diffs AS (
      SELECT idx, mean_dist,
             (CAST(idx AS DOUBLE) / (n - 1)) -
             ((mean_dist - ymin) / (ymax - ymin)) AS d
      FROM curve
    )
    SELECT CAST(idx AS BIGINT) AS knee_idx,
           ROUND(mean_dist, 6) AS epsilon,
           ROUND(d, 6) AS max_diff
    FROM diffs ORDER BY d DESC, idx LIMIT 1
    """,
    tags=("knn", "vectors", "window"),
)
def knn_knee_epsilon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17: Kneedle-style knee of the sorted kNN-mean curve -> the DBSCAN
    epsilon candidate (``epsilon_search``, ``:191-198``). The reference's
    run rejected its computed eps=7.55 and hand-set 20 (SURVEY.md 2.9.3);
    we keep the op deterministic and test eps-monotonicity instead.
    ``knn_knee_sweep`` below is the full sensitivity sweep."""
    from .graph import materialize_release
    knn = knn_mean_distances(spark, sf_dir)
    caches: list[DataFrame] = []
    curve, _meta = _indexed_curve(knn, caches)
    diffs = curve.select(
        "idx", "mean_dist",
        ((F.col("idx").cast("double") / (F.col("n") - 1)) -
         ((F.col("mean_dist") - F.col("ymin")) / (F.col("ymax") - F.col("ymin"))))
        .alias("d"))
    out = (diffs.orderBy(F.desc("d"), F.asc("idx")).limit(1)
           .select(F.col("idx").cast("long").alias("knee_idx"),
                   F.round("mean_dist", 6).alias("epsilon"),
                   F.round("d", 6).alias("max_diff")))
    return materialize_release(out, caches)


# --- M17 full sensitivity sweep ---------------------------------------------

#: the reference's sensitivity grid (``word2vec_dbscan_approach.ipynb:
#: 191-221``): one KneeLocator per S, final epsilon = max over all elbows
SENSITIVITIES = (1, 3, 5, 10, 100, 150, 200)

_SWEEP_TAIL_SQL = f"""
    marked AS (
      SELECT idx, n, mean_dist, d,
             CASE WHEN d > COALESCE(LAG(d) OVER (ORDER BY idx), -1e18)
                   AND d >= COALESCE(LEAD(d) OVER (ORDER BY idx), -1e18)
                  THEN 1 ELSE 0 END AS is_lmx
      FROM diffs
    ),
    grouped AS (
      SELECT idx, n, mean_dist, d, is_lmx,
             MAX(CASE WHEN is_lmx = 1 THEN idx END)
               OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS grp
      FROM marked
    ),
    lmx AS (
      SELECT grp AS lidx,
             MAX(CASE WHEN idx = grp THEN d END) AS dl,
             MAX(CASE WHEN idx = grp THEN mean_dist END) AS eps_l,
             MIN(CASE WHEN idx > grp THEN d END) AS min_after,
             MAX(n) AS n
      FROM grouped WHERE grp IS NOT NULL GROUP BY grp
    ),
    sens AS (SELECT unnest({list(SENSITIVITIES)}) AS s),
    hits AS (
      SELECT s.s, MIN(l.lidx) AS knee_idx
      FROM sens s JOIN lmx l
        ON l.min_after < l.dl - CAST(s.s AS DOUBLE) / (l.n - 1)
      GROUP BY s.s
    ),
    fallback AS (SELECT idx AS fidx, mean_dist AS feps
                 FROM diffs ORDER BY d DESC, idx LIMIT 1),
    per_s AS (
      SELECT CAST(s.s AS BIGINT) AS sensitivity,
             CAST(COALESCE(h.knee_idx, f.fidx) AS BIGINT) AS knee_idx,
             COALESCE(l.eps_l, f.feps) AS eps
      FROM sens s
      LEFT JOIN hits h ON h.s = s.s
      LEFT JOIN lmx l ON l.lidx = h.knee_idx
      CROSS JOIN fallback f
    )
    SELECT sensitivity, knee_idx, ROUND(eps, 6) AS epsilon,
           ROUND(MAX(eps) OVER (), 6) AS chosen_epsilon
    FROM per_s
"""


@register(
    "knn_knee_sweep",
    oracle=f"""
    WITH {_KNN_CTE},
    curve AS (
      SELECT mean_dist,
             ROW_NUMBER() OVER (ORDER BY mean_dist, vec_id) - 1 AS idx,
             COUNT(*) OVER () AS n,
             MIN(mean_dist) OVER () AS ymin,
             MAX(mean_dist) OVER () AS ymax
      FROM knn
    ),
    diffs AS (
      SELECT idx, n, mean_dist,
             (CAST(idx AS DOUBLE) / (n - 1)) -
             ((mean_dist - ymin) / (ymax - ymin)) AS d
      FROM curve
    ),
    {_SWEEP_TAIL_SQL}
    """,
    tags=("knn", "vectors", "window"),
)
def knn_knee_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17 PROPER: the reference's sensitivity sweep, as window algebra.

    Kneedle with sensitivity S on the convex-increasing difference curve d:
    a knee fires at the first local maximum of d whose curve later dips
    below ``d(lmx) - S/(n-1)`` before the next local max; per S the knee
    (with the argmax-d fallback when no local max triggers), and the final
    ``chosen_epsilon`` = max over all elbows — the reference's selection
    rule (``word2vec_dbscan_approach.ipynb:191-221``). One row per S.
    """
    from .graph import materialize_release
    knn = knn_mean_distances(spark, sf_dir)
    caches: list[DataFrame] = []
    curve, meta = _indexed_curve(knn, caches)
    diffs = curve.select(
        "bucket", "idx", "n", "mean_dist",
        ((F.col("idx").cast("double") / (F.col("n") - 1)) -
         ((F.col("mean_dist") - F.col("ymin")) /
          (F.col("ymax") - F.col("ymin")))).alias("d")).cache()
    caches.append(diffs)

    # lag/lead over the global idx order WITHOUT a single-partition window
    # and WITHOUT the former idx+-1 equi-self-joins (two hash shuffles of
    # the whole curve): idx is dense and bucket-contiguous, so in-bucket
    # neighbours come from a window on the bucketing the cached diffs
    # already carry (no new exchange), and the one cross-bucket neighbour
    # each bucket boundary needs — last/first d of the adjacent bucket —
    # is DERIVED from _indexed_curve's own offsets collect (r11, guide
    # §2.4): the bucket's first row (by idx) carries its min mean_dist at
    # idx = offset, its last row the max at idx = offset + cnt - 1, so
    # fd/ld are driver float algebra over the already-collected
    # (cnt, mn, mx) rows — the same IEEE op sequence as the d column
    # (np.float64 division mirrors the JVM double bit-for-bit), replacing
    # the separate per-bucket min_by/max_by collect the sweep used to run.
    import numpy as np
    neg = F.lit(-1e18)
    n_f = np.float64(meta["n"])
    ymin_f = np.float64(meta["ymin"] if meta["ymin"] is not None else np.nan)
    ymax_f = np.float64(meta["ymax"] if meta["ymax"] is not None else np.nan)
    with np.errstate(divide="ignore", invalid="ignore"):
        span = ymax_f - ymin_f
        bounds = []
        for r in sorted(meta["rows"], key=lambda r: r["bucket"]):
            off = meta["offsets"][r["bucket"]]
            fd = float(np.float64(off) / (n_f - 1.0)
                       - (np.float64(r["mn"]) - ymin_f) / span)
            ld = float(np.float64(off + r["cnt"] - 1) / (n_f - 1.0)
                       - (np.float64(r["mx"]) - ymin_f) / span)
            bounds.append((r["bucket"], fd, ld))
    prev_map, next_map = {}, {}
    for i, (b, fd, ld) in enumerate(bounds):
        if i > 0:
            prev_map[b] = bounds[i - 1][2]  # predecessor bucket's last d
        if i + 1 < len(bounds):
            next_map[b] = bounds[i + 1][1]  # successor bucket's first d

    def _lit_map(m):
        if not m:
            return F.lit(None).cast("double")
        return F.element_at(
            F.create_map(*[F.lit(x) for kv in m.items() for x in kv]),
            F.col("bucket"))

    wlag = Window.partitionBy("bucket").orderBy("idx")
    marked = (diffs
              .withColumn("d_prev",
                          F.coalesce(F.lag("d").over(wlag),
                                     _lit_map(prev_map)))
              .withColumn("d_next",
                          F.coalesce(F.lead("d").over(wlag),
                                     _lit_map(next_map)))
              .withColumn(
                  "is_lmx",
                  ((F.col("d") > F.coalesce(F.col("d_prev"), neg)) &
                   (F.col("d") >= F.coalesce(F.col("d_next"), neg)))
                  .cast("int"))
              .drop("d_prev", "d_next")
              .cache())
    caches.append(marked)

    # running max of the last local-max idx, decomposed as a distributed
    # prefix scan: per-bucket maxima (<= n_buckets rows to the driver)
    # exclusive-prefix-maxed into per-bucket carry-ins, then a WITHIN-bucket
    # running max coalesced with the carry-in — exact global scan, shuffle
    # on the bucket id only
    per_bucket = sorted(
        (r["bucket"], r["m"]) for r in
        marked.groupBy("bucket")
              .agg(F.max(F.when(F.col("is_lmx") == 1, F.col("idx")))
                   .alias("m")).collect())
    carry, run = {}, None
    for b, m in per_bucket:
        if run is not None:
            carry[b] = run
        if m is not None:
            run = m if run is None else max(run, m)
    carry_expr = (F.element_at(
        F.create_map(*[F.lit(x) for kv in carry.items() for x in kv]),
        F.col("bucket")) if carry else F.lit(None).cast("long"))
    wrun = (Window.partitionBy("bucket").orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grouped = marked.withColumn(
        "grp",
        F.coalesce(
            F.max(F.when(F.col("is_lmx") == 1, F.col("idx"))).over(wrun),
            carry_expr))
    lmx = (grouped.where(F.col("grp").isNotNull())
           .groupBy("grp")
           .agg(F.max(F.when(F.col("idx") == F.col("grp"), F.col("d")))
                 .alias("dl"),
                F.max(F.when(F.col("idx") == F.col("grp"), F.col("mean_dist")))
                 .alias("eps_l"),
                F.min(F.when(F.col("idx") > F.col("grp"), F.col("d")))
                 .alias("min_after"),
                F.max("n").alias("n")))

    sens = spark.createDataFrame([(int(s),) for s in SENSITIVITIES], "s long")
    hits = (sens.crossJoin(lmx)
            .where(F.col("min_after") <
                   F.col("dl") - F.col("s").cast("double") / (F.col("n") - 1))
            .groupBy("s").agg(F.min("grp").alias("knee_idx")))
    fallback = (diffs.orderBy(F.desc("d"), F.asc("idx")).limit(1)
                .select(F.col("idx").alias("fidx"),
                        F.col("mean_dist").alias("feps")))
    per_s = (sens.join(hits, "s", "left")
             .join(lmx.select(F.col("grp").alias("knee_idx"), "eps_l"),
                   "knee_idx", "left")
             .crossJoin(F.broadcast(fallback))
             .select(F.col("s").alias("sensitivity"),
                     F.coalesce("knee_idx", "fidx").cast("long")
                      .alias("knee_idx"),
                     F.coalesce("eps_l", "feps").alias("eps")))
    out = per_s.select(
        "sensitivity", "knee_idx", F.round("eps", 6).alias("epsilon"),
        F.round(F.max("eps").over(Window.partitionBy()), 6)
         .alias("chosen_epsilon"))
    # bounded output (one row per sensitivity) — materialize while the
    # curve/diff/marked caches are hot, then release all three
    return materialize_release(out, caches)
