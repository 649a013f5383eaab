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
- M17 = the Kneedle difference curve on the sorted means: normalize x and
  y to [0,1], knee = argmax(x_hat - y_hat) (the convex-increasing case of
  Kneedle), plus the reference's sensitivity sweep and max-of-elbows
  selection. The curve (one mean per point) is collected once and the
  knee computed in numpy on the driver, in the oracle SQL's float64
  operation order. Its size bound is the kNN kernel's broadcast side:
  the kernel already pulls the whole n x dim embedding matrix to the
  driver, and the curve is 1/dim of it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import sql_euclidean
from ..plans.registry import register
from ..sources.readers import table
from .pairwise import _broadcast_side, topk_candidate_pairs

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
    # n comes with the kernel's broadcast side, collected once and cached
    # by plan (the kernel call below hits that cache)
    n = _broadcast_side(emb, "vec_id", "embedding")[1]
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


def _sorted_curve(knn: DataFrame, id_col: str = "vec_id") -> np.ndarray:
    """The kNN-mean curve on the driver, in the oracle's curve order
    ``(mean_dist, vec_id)``. The curve is one double per point, 1/dim of
    the embedding matrix the kNN kernel's broadcast side has already
    pulled to the driver, so that broadcast side is the size bound."""
    rows = knn.select(id_col, "mean_dist").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    y = np.array([r[1] for r in rows], dtype=np.float64)
    return y[np.lexsort((ids, y))]


def _diff_curve(y: np.ndarray) -> np.ndarray:
    """Kneedle's difference curve ``d = idx/(n-1) - (y-ymin)/(ymax-ymin)``
    over the sorted curve ``y``, in float64: the same IEEE operation
    sequence as the oracle's SQL. Where the SQL divides by zero (n = 1,
    or a flat curve) every d is NaN, as every SQL d is null."""
    ymin, ymax = y[:1], y[-1:]  # empty on an empty curve
    with np.errstate(divide="ignore", invalid="ignore"):
        return (np.arange(len(y), dtype=np.float64) / np.float64(len(y) - 1)
                - (y - ymin) / (ymax - ymin))


def _first_max(d: np.ndarray) -> np.ndarray:
    """``ORDER BY d DESC, idx LIMIT 1`` as an index array of length 0 or 1:
    a stable sort of -d, in which NaN (the SQL's null) sorts last."""
    return np.argsort(-d, kind="stable")[:1]


def knee_epsilon_value(knn: DataFrame, id_col: str = "vec_id") -> float:
    """Kneedle knee -> epsilon as a Python scalar: the ``knn_knee_epsilon``
    argmax (the first maximum of d in curve order, as ``ORDER BY d DESC,
    idx``) over the curve collected once to the driver, as the reference
    does at ``word2vec_dbscan_approach.ipynb:191-198``. Guarded where the
    registered query is not: n = 1 divides by 1, and a flat curve
    (ymax == ymin) contributes 0, so its knee is the last point.

    Degenerate-corpus note (the reference author hit this and hand-set
    eps=20, SURVEY.md 2.9.3): when the kNN-mean curve is near-flat or
    convex-decreasing, the Kneedle argmax lands on an epsilon that puts
    almost the whole corpus in one DBSCAN cluster. The knee is still the
    deterministic, reference-faithful value — callers that observe a
    degenerate clustering should pass eps explicitly, exactly as the
    reference did."""
    y = _sorted_curve(knn, id_col)
    d = np.arange(len(y), dtype=np.float64) / np.float64(max(len(y) - 1, 1))
    span = y[-1] - y[0]
    if span > 0:
        d -= (y - y[0]) / span
    return float(y[np.argmax(d)])


def _local_frame(spark: SparkSession, **cols) -> DataFrame:
    """Driver columns as a ``LocalRelation`` frame: built through Arrow, so
    it runs no job and starts no Python worker. NaN becomes null (the
    SQL's division by zero)."""
    return spark.createDataFrame(pa.table({
        k: pa.array(v, mask=np.isnan(v)) for k, v in cols.items()}))


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
    y = _sorted_curve(knn_mean_distances(spark, sf_dir))
    d = _diff_curve(y)
    i = _first_max(d)
    return (_local_frame(spark, knee_idx=i, mean_dist=y[i], d=d[i])
            .select("knee_idx", F.round("mean_dist", 6).alias("epsilon"),
                    F.round("d", 6).alias("max_diff")))


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
    """M17 PROPER: the reference's sensitivity sweep (``knee_sweep``) over
    the embeddings' kNN-mean curve. One row per S."""
    return knee_sweep(knn_mean_distances(spark, sf_dir))


def knee_sweep(knn: DataFrame) -> DataFrame:
    """The sensitivity sweep over a ``(vec_id, mean_dist)`` curve, on the
    driver: a numpy port of ``_SWEEP_TAIL_SQL``.

    Kneedle with sensitivity S on the convex-increasing difference curve d:
    a knee fires at the first local maximum of d whose curve later dips
    below ``d(lmx) - S/(n-1)`` before the next local max; per S the knee
    (with the argmax-d fallback when no local max triggers), and the final
    ``chosen_epsilon`` = max over all elbows — the reference's selection
    rule (``word2vec_dbscan_approach.ipynb:191-221``). One row per S.
    """
    y = _sorted_curve(knn)
    d = _diff_curve(y)
    lo = np.float64(-1e18)  # the SQL's COALESCE for the missing neighbour
    lmx = np.flatnonzero((d > np.append(lo, d[:-1]))
                         & (d >= np.append(d[1:], lo)))
    # a local max's group runs up to the next one; min_after is the least
    # d after the local max within its group (NaN when there is none)
    ends = np.append(lmx[1:], len(d))
    min_after = np.array([d[g + 1:e].min() if e > g + 1 else np.nan
                          for g, e in zip(lmx, ends)])
    # per S the first local max that fires, else the argmax fallback; the
    # SQL cross-joins the 1-row fallback, so an empty curve has no rows
    fallback = _first_max(d)
    sens = np.array(SENSITIVITIES if fallback.size else [], dtype=np.int64)
    knees = np.array(
        [np.append(lmx[min_after < d[lmx]
                       - np.float64(s) / np.float64(len(d) - 1)],
                   fallback)[0] for s in sens], dtype=np.int64)
    eps = y[knees]
    return (_local_frame(knn.sparkSession, sensitivity=sens,
                         knee_idx=knees, eps=eps,
                         chosen=np.full(len(eps), eps.max(initial=-np.inf)))
            .select("sensitivity", "knee_idx",
                    F.round("eps", 6).alias("epsilon"),
                    F.round("chosen", 6).alias("chosen_epsilon")))
