"""Clustering: K-Means (M12), external cluster-quality metrics (M13), and
the word2vec document-embedding path (M14/M15) — SURVEY.md section 2.7.

M13 is the showcase: homogeneity / completeness / V-measure / adjusted Rand
(the sklearn metrics the reference calls at
``/root/reference/notebooks/TF-IDF_K-Means_approach.ipynb:8163-8171``)
rebuilt as pure contingency-table aggregations — groupBy + entropy algebra —
so they are DuckDB-oracle-checkable AND run distributed at any scale.

M12/M14 are model-backed (MLlib) and get rows-only checks plus invariants in
tests: MLlib KMeans has no sklearn ``n_init``, so we loop seeds and keep the
min-cost model; MLlib Word2Vec is skip-gram/HS vs gensim's CBOW/negative
(numerically different embeddings — golden tests assert cluster-level
invariants, not raw vectors; SURVEY.md M14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import table


def _dec_term_sum(c: Column, scale: int = 18) -> Column:
    """Order-independent sum of double terms: round each term to a decimal,
    sum exactly, parse back (see functions/numeric.py rationale)."""
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("string").cast("double")


# ---------------------------------------------------------------------------
# M13: external metrics as contingency-table algebra
# ---------------------------------------------------------------------------

def external_cluster_metrics(assigned: DataFrame, label_col: str,
                             pred_col: str,
                             include_pred_count: bool = False) -> DataFrame:
    """Homogeneity, completeness, V-measure, ARI of ``pred_col`` against
    ``label_col`` — one output row.

    Entropy sums run over the contingency cells (tiny after aggregation);
    every ln-term is decimal-rounded before summing so the result is exactly
    reproducible cross-engine. ARI's pair counts are pure integer sums
    (n*(n-1) in BIGINT), exact by construction.

    ``include_pred_count`` appends ``n_clusters`` (distinct ``pred_col``
    values) folded out of the SAME contingency aggregate — every
    prediction appears in some contingency cell, so counting the rn_k==1
    rows equals ``select(pred).distinct().count()`` without the separate
    corpus-scan action that count used to cost (guide §5.1).
    """
    # SQL text, one string per column: the plan builds in a few py4j calls
    # (a Column tree costs one per node) and analyzes to the Column form's
    # plan (``ln`` is Column ``log``, ``1.0D`` its double literal). ONE
    # pass: contingency table, then ai/bj/n as windows over it (tiny after
    # aggregation) and ALL eight statistics in a single global aggregate.
    # The entropy sums use the weighted identity
    # sum_c (ai/n)ln(ai/n) == sum_{c,k} (nij/n)ln(ai/n) (since sum_k nij =
    # ai), so no per-c/per-k branch plans exist; sa/sb count each group
    # once via a row_number guard. Round 1's form (4 groupBys + 8
    # crossJoin branches) compiled a far larger plan for the same numbers.
    def ent(num: str, den: str) -> str:
        return (f"-CAST(CAST(sum(CAST((nij / n) * ln({num} / {den}) "
                f"AS DECIMAL(27,18))) AS STRING) AS DOUBLE)")

    def comb(c: str) -> str:  # 2*C(c,2), exact
        return f"CAST({c} * ({c} - 1) AS BIGINT)"

    cont = (assigned.selectExpr(f"`{label_col}` AS c", f"`{pred_col}` AS k")
            .groupBy("c", "k").agg(F.expr("count(*) AS nij")))
    annotated = cont.selectExpr(
        "c", "k", "nij",
        "sum(nij) OVER () AS n",
        "sum(nij) OVER (PARTITION BY c) AS ai",
        "sum(nij) OVER (PARTITION BY k) AS bj",
        "row_number() OVER (PARTITION BY c ORDER BY k) AS rn_c",
        "row_number() OVER (PARTITION BY k ORDER BY c) AS rn_k")
    row = annotated.selectExpr(
        f"{ent('ai', 'n')} AS hc", f"{ent('bj', 'n')} AS hk",
        f"{ent('nij', 'bj')} AS hck", f"{ent('nij', 'ai')} AS hkc",
        f"sum({comb('nij')}) AS sij",
        f"sum(CASE WHEN rn_c = 1 THEN {comb('ai')} END) AS sa",
        f"sum(CASE WHEN rn_k = 1 THEN {comb('bj')} END) AS sb",
        f"{comb('max(n)')} AS sn",
        "sum(CASE WHEN rn_k = 1 THEN 1 ELSE 0 END) AS nk")

    h = "(CASE WHEN hc > 0 THEN 1.0D - hck / hc ELSE 1.0D END)"
    c = "(CASE WHEN hk > 0 THEN 1.0D - hkc / hk ELSE 1.0D END)"
    v = (f"(CASE WHEN ({h} + {c}) > 0 THEN 2.0D * {h} * {c} / ({h} + {c}) "
         f"ELSE 0.0D END)")
    expected = "(CAST(sa AS DOUBLE) * sb / sn)"
    ari = f"(sij - {expected}) / ((sa + sb) / 2.0D - {expected})"
    cols = [f"round({h}, 6) AS homogeneity", f"round({c}, 6) AS completeness",
            f"round({v}, 6) AS v_measure", f"round({ari}, 6) AS ari"]
    if include_pred_count:
        cols.append("CAST(nk AS BIGINT) AS n_clusters")
    return row.selectExpr(*cols)


_METRICS_ORACLE = """
    WITH pts AS (SELECT label AS c, vec_id % 7 AS k FROM embeddings),
    cont AS (SELECT c, k, COUNT(*) AS nij FROM pts GROUP BY c, k),
    annotated AS (
      SELECT c, k, nij,
             SUM(nij) OVER () AS n,
             SUM(nij) OVER (PARTITION BY c) AS ai,
             SUM(nij) OVER (PARTITION BY k) AS bj,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY k) AS rn_c,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY c) AS rn_k
      FROM cont
    ),
    stats AS (
      SELECT
        -CAST(CAST(SUM(CAST((nij / n) * LN(ai / n) AS DECIMAL(27,18)))
              AS VARCHAR) AS DOUBLE) AS hc,
        -CAST(CAST(SUM(CAST((nij / n) * LN(bj / n) AS DECIMAL(27,18)))
              AS VARCHAR) AS DOUBLE) AS hk,
        -CAST(CAST(SUM(CAST((nij / n) * LN(nij / bj) AS DECIMAL(27,18)))
              AS VARCHAR) AS DOUBLE) AS hck,
        -CAST(CAST(SUM(CAST((nij / n) * LN(nij / ai) AS DECIMAL(27,18)))
              AS VARCHAR) AS DOUBLE) AS hkc,
        CAST(SUM(nij * (nij - 1)) AS BIGINT) AS sij,
        CAST(SUM(CASE WHEN rn_c = 1 THEN ai * (ai - 1) END) AS BIGINT) AS sa,
        CAST(SUM(CASE WHEN rn_k = 1 THEN bj * (bj - 1) END) AS BIGINT) AS sb,
        CAST(MAX(n) * (MAX(n) - 1) AS BIGINT) AS sn
      FROM annotated
    ),
    hcv AS (SELECT
        CASE WHEN hc > 0 THEN 1.0 - hck / hc ELSE 1.0 END AS h,
        CASE WHEN hk > 0 THEN 1.0 - hkc / hk ELSE 1.0 END AS c,
        sij, sa, sb, sn
        FROM stats)
    SELECT ROUND(h, 6) AS homogeneity,
           ROUND(c, 6) AS completeness,
           ROUND(CASE WHEN h + c > 0 THEN 2.0 * h * c / (h + c) ELSE 0.0 END, 6) AS v_measure,
           ROUND((sij - CAST(sa AS DOUBLE) * sb / sn) /
                 ((sa + sb) / 2.0 - CAST(sa AS DOUBLE) * sb / sn), 6) AS ari
    FROM hcv
"""


@register("external_metrics_pseudo", oracle=_METRICS_ORACLE,
          tags=("clustering", "metrics"))
def external_metrics_pseudo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 against a DETERMINISTIC pseudo-prediction (vec_id % 7) so the
    whole metric stack is value-checkable in SQL; the same function scores
    real KMeans/DBSCAN output in the rows-only queries below."""
    emb = table(spark, sf_dir, "embeddings")
    assigned = emb.select("label", (F.col("vec_id") % 7).alias("pred"))
    return external_cluster_metrics(assigned, "label", "pred")


# ---------------------------------------------------------------------------
# M12: K-Means with n_init emulation
# ---------------------------------------------------------------------------

#: driver-kernel tier cutoff (the dbscan.py tiering discipline): at or
#: under this many rows the restart loop runs as seeded numpy kmeans++/
#: Lloyd on ONE collected matrix — which is EXACTLY the reference's
#: sklearn ``KMeans(init='k-means++', n_init=...)`` semantics, where the
#: MLlib loop below is a k-means|| approximation of it. 20k x 64 f64 is
#: ~10 MB — the same driver budget class as the DBSCAN kernel tier.
DRIVER_KMEANS_ROWS = 20_000


class _DriverKMeansModel:
    """Minimal model surface over driver-fitted centers: ``transform``
    appends ``prediction`` via a pure JVM argmin expression (one
    ``transform`` over an array literal of the centers — no Python in the
    assignment path, so the transform distributes exactly like the MLlib
    model's), plus the ``summary.trainingCost`` / ``clusterCenters``
    attributes callers use."""

    def __init__(self, centers, cost: float, features_col: str,
                 prediction_col: str = "prediction"):
        from types import SimpleNamespace
        self._centers = centers
        self._features_col = features_col
        self._prediction_col = prediction_col
        self.summary = SimpleNamespace(trainingCost=float(cost))

    def clusterCenters(self):
        return [c.copy() for c in self._centers]

    def transform(self, df: DataFrame) -> DataFrame:
        """Squared distance to each center as a left-to-right
        ``(a-b)*(a-b)`` fold, argmin by the first minimal index. The
        centers travel as one array literal (one ``lit`` per center, not
        per component), so the plan builds in a handful of py4j calls. The
        literals sit inside higher-order functions, which generated code
        references rather than inlines: a refit with new centers compiles
        no new classes."""
        import numpy as np
        from pyspark.ml.functions import vector_to_array
        x = vector_to_array(F.col(self._features_col))
        centers = F.array(*[F.lit(np.asarray(c, dtype=np.float64))
                            for c in self._centers])
        dists = F.transform(centers, lambda c: F.aggregate(
            F.zip_with(x, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v))
        pred = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        return df.withColumn(self._prediction_col, pred)


def _kmeans_driver_fit(X, k: int, n_init: int, max_iter: int,
                       base_seed: int):
    """Seeded kmeans++ + Lloyd restarts on a numpy matrix; returns
    (best_centers, best_cost) by (cost, seed index). Empty clusters are
    re-seeded deterministically with the point farthest from its assigned
    center (sklearn's relocation rule)."""
    import numpy as np

    n = len(X)
    xn = np.einsum("ij,ij->i", X, X)
    # reused buffers (pairwise.py _reuse_note: fresh large allocations
    # first-touch page-fault at ~30 MB/s on this host)
    G = np.empty((n, k))
    rows = np.arange(n)

    def dists(C):
        np.dot(X, C.T, out=G)
        np.multiply(G, -2.0, out=G)
        np.add(G, xn[:, None], out=G)
        np.add(G, np.einsum("ij,ij->i", C, C)[None, :], out=G)
        return G

    best = None
    for i in range(n_init):
        rng = np.random.default_rng(base_seed + i)
        # kmeans++ seeding with an incrementally maintained min-d2
        c0 = X[rng.integers(n)]
        d2 = np.einsum("ij,ij->i", X - c0, X - c0)
        cents = [c0]
        for _ in range(k - 1):
            tot = d2.sum()
            if tot <= 0:
                nxt = X[rng.integers(n)]
            else:
                nxt = X[rng.choice(n, p=d2 / tot)]
            cents.append(nxt)
            np.minimum(d2, np.einsum("ij,ij->i", X - nxt, X - nxt), out=d2)
        C = np.array(cents)
        prev = np.inf
        for _ in range(max_iter):
            d = dists(C)
            a = d.argmin(1)
            far = d[rows, a]
            cost = far.sum()
            for j in range(k):
                pts = X[a == j]
                if len(pts):
                    C[j] = pts.mean(0)
                else:
                    # sklearn's relocation rule: re-seed from the point
                    # farthest from its assigned center
                    C[j] = X[int(far.argmax())]
            if abs(prev - cost) <= 1e-12 * max(prev, 1.0):
                break
            prev = cost
        cost = float(np.maximum(dists(C).min(1), 0.0).sum())
        if best is None or (cost, i) < (best[1], best[2]):
            best = (C, cost, i)
    return best[0], best[1]


def fit_kmeans_best(df: DataFrame, k: int = 10, n_init: int = 3,
                    max_iter: int = 50, features_col: str = "features",
                    base_seed: int = 42, allow_driver_tier: bool = True):
    """``KMeans(n_clusters, init='k-means++', n_init=100)``
    (``TF-IDF_K-Means_approach.ipynb:7897-7902``), tiered:

    - at or under ``DRIVER_KMEANS_ROWS`` rows (and ``allow_driver_tier``):
      seeded numpy kmeans++/Lloyd restarts on the collected matrix — the
      reference's sklearn semantics verbatim, with the per-Lloyd-iteration
      distributed-job scheduling floor gone (measured: the whole cost of
      an MLlib fit at fixture scale is ~50 near-empty jobs);
    - above it: MLlib ``k-means||`` with a seed loop keeping the min-cost
      model (MLlib has no n_init; SURVEY.md M12). n_init defaults low —
      each fit is a full distributed job; the reference's 100 restarts on
      2.8k rows do not transfer to cluster scale.

    Both tiers return an object with ``transform`` /
    ``summary.trainingCost`` / ``clusterCenters``; the driver tier's
    transform is JVM column algebra over an array literal of the centers,
    so label assignment distributes identically."""
    from pyspark.ml.clustering import KMeans
    from pyspark.storagelevel import StorageLevel

    if allow_driver_tier:
        import numpy as np
        from pyspark.ml.functions import vector_to_array
        head = df.limit(DRIVER_KMEANS_ROWS + 1).select(
            vector_to_array(features_col).alias("x")).collect()
        if len(head) <= DRIVER_KMEANS_ROWS and len(head) >= k:
            X = np.array([r.x for r in head], dtype=np.float64)
            C, cost = _kmeans_driver_fit(X, k, n_init, max_iter, base_seed)
            return _DriverKMeansModel(C, cost, features_col)
    # every restart (and every k-means|| iteration within it) re-evaluates
    # the feature plan unless it is materialized; pin it for the loop
    pinned = df.storageLevel == StorageLevel.NONE
    if pinned:
        df = df.persist()
    try:
        # restarts are independent jobs — submit them concurrently so the
        # per-Lloyd-iteration scheduling floor (the whole cost at small n,
        # where each of ~50 iterations is a near-empty job) overlaps across
        # restarts. Deterministic regardless of completion order: the kept
        # model is min by (cost, restart index).
        from concurrent.futures import ThreadPoolExecutor

        def one(i: int):
            km = KMeans(k=k, maxIter=max_iter, seed=base_seed + i,
                        featuresCol=features_col, predictionCol="prediction")
            model = km.fit(df)
            return model.summary.trainingCost, i, model

        with ThreadPoolExecutor(max_workers=min(n_init, 4)) as ex:
            fits = list(ex.map(one, range(n_init)))
        return min(fits, key=lambda t: (t[0], t[1]))[2]
    finally:
        if pinned:
            df.unpersist()


def _embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label",
                      array_to_vector("embedding").alias("features"))


#: in-row certification floor for kmeans_cluster_sizes: the best-of-n_init
#: fit's within-cluster SS must be under this fraction of the TOTAL sum of
#: squares around the global centroid (= the k=1 "clustering"). A broken
#: fit (Lloyd not converging, centers collapsing onto each other) pushes
#: the ratio to ~1.0. The fixture geometry sits at 0.9304 / 0.9312 /
#: 0.9501 (sf0.001 / 0.01 / 0.1, measured with the fixed seed): 64-d
#: label clusters overlap in Euclidean space, so k=10 removes only
#: 5-7% of total SS — the floor is pinned just above the worst measured
#: fixture value, catching collapse-to-1.0 without flaking on geometry.
#: Empty-cluster regressions are caught separately by the k-nonempty
#: check, which does not depend on the ratio margin.
KMEANS_COST_FLOOR = 0.97


@register("kmeans_cluster_sizes", oracle=None, tags=("clustering", "ml"))
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 + A9 ``Counter(km.labels_)``
    (``TF-IDF_K-Means_approach.ipynb:7991``): cluster sizes of the best-of-
    n_init KMeans on the fixture embeddings, reported by size rank (cluster
    ids are not stable across implementations; sizes are the invariant).

    Certified IN-ROW (r09 verdict ask #7, the ``ann_recall_audit``
    playbook): the row set carries the fit's cost ratio — trainingCost /
    total-SS-around-the-global-centroid (one cheap ``Summarizer``
    aggregate, not a second fit) — and the operator RAISES when the ratio
    breaks the ``KMEANS_COST_FLOOR`` or any of the k clusters comes back
    empty, so the driver's rows-only hash doubles as a clustering
    regression gate. With the fixed base seed the whole row set is
    deterministic."""
    k = 10
    feats = _embedding_features(spark, sf_dir)
    model = fit_kmeans_best(feats, k=k, n_init=3)
    out = model.transform(feats)
    sizes = out.groupBy("prediction").agg(F.count("*").alias("n"))
    from pyspark.ml.stat import Summarizer
    from pyspark.sql import Window
    stat = feats.agg(
        Summarizer.variance(F.col("features")).alias("v"),
        F.count("*").alias("n")).collect()[0]
    tot_ss = float(sum(stat["v"])) * max(int(stat["n"]) - 1, 1)
    cost_ratio = round(model.summary.trainingCost / max(tot_ss, 1e-12), 4)
    w = Window.orderBy(F.desc("n"), F.asc("prediction"))
    ranked = (sizes.withColumn("size_rank",
                               F.row_number().over(w).cast("long"))
              .select("size_rank", "n",
                      F.lit(cost_ratio).alias("cost_ratio"),
                      F.lit(True).alias("meets_floor")))
    n_clusters = ranked.count()
    if n_clusters < k or cost_ratio > KMEANS_COST_FLOOR:
        raise AssertionError(
            f"kmeans certification broken: {n_clusters}/{k} nonempty "
            f"clusters, cost ratio {cost_ratio} (floor "
            f"{KMEANS_COST_FLOOR})")
    return ranked


@register("kmeans_quality", oracle=None, tags=("clustering", "ml", "metrics"))
def kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 on real KMeans output: homogeneity/completeness/V/ARI vs the
    fixture's ground-truth ``label`` plus MLlib silhouette — the rebuild of
    the reference's evaluation cell (``TF-IDF…:8163-8171``)."""
    from pyspark.ml.evaluation import ClusteringEvaluator

    from .graph import materialize_release
    feats = _embedding_features(spark, sf_dir)
    model = fit_kmeans_best(feats, k=10, n_init=3)
    # cache scoped to this call: the labeled frame feeds the (eager)
    # silhouette evaluation and the metrics plan; released once the
    # bounded 1-row metrics result materializes
    out = model.transform(feats).cache()
    sil = ClusteringEvaluator(featuresCol="features",
                              predictionCol="prediction",
                              metricName="silhouette").evaluate(out)
    metrics = (external_cluster_metrics(out, "label", "prediction")
               .withColumn("silhouette", F.round(F.lit(sil), 6)))
    return materialize_release(metrics, [out])


# ---------------------------------------------------------------------------
# M14/M15: word2vec document vectors
# ---------------------------------------------------------------------------

#: Token volume a single word2vec training partition handles per epoch.
#: MLlib trains hogwild-style — each partition updates a shared weight
#: snapshot, merged per epoch — so MORE partitions mean more averaging
#: noise on tiny corpora but are the ONLY source of fit parallelism.
#: 2M tokens/partition keeps fixture-sized corpora at numPartitions=1
#: (bit-stable local fits) while a 100 TB corpus fans out to the cap.
_W2V_TOKENS_PER_PARTITION = 2_000_000
_W2V_MAX_PARTITIONS = 256


def _w2v_num_partitions(docs_tokens: DataFrame, tokens_col: str) -> int:
    """Training partitions for the corpus' token count. The count is a sum
    over a JVM double RDD: one job with no shuffle, where the DataFrame
    aggregate took three over a freshly cached input (AQE's cache stage,
    the partial-aggregate map stage, the final stage). Integer sums are
    exact in a double up to 2^53 tokens."""
    jvm = docs_tokens.sparkSession.sparkContext._jvm
    sizes = docs_tokens.selectExpr(
        f"CAST(coalesce(size(`{tokens_col}`), 0) AS DOUBLE)")._jdf
    n_tokens = int(jvm.org.apache.spark.api.java.JavaDoubleRDD.fromRDD(
        getattr(sizes, "as")(jvm.org.apache.spark.sql.Encoders.DOUBLE())
        .rdd()).sum())
    return int(max(1, min(_W2V_MAX_PARTITIONS,
                          n_tokens // _W2V_TOKENS_PER_PARTITION)))


def fit_word2vec(docs_tokens: DataFrame, vector_size: int = 32,
                 window: int = 5, min_count: int = 1, max_iter: int = 8,
                 seed: int = 42, tokens_col: str = "tokens",
                 num_partitions: int | None = None,
                 cache_key=None):
    """M14 ``train_word2vec`` (gensim CBOW, size=200/window=5/min_count=1/
    iter=1000 — ``word2vec_dbscan_approach.ipynb:133-145``) as
    ``ml.feature.Word2Vec``. The transform IS M15 sentence2vec: Spark
    averages in-vocab word vectors per document, and returns a ZERO vector
    for empty docs — exactly the mean-pool semantics minus the reference's
    ragged-empty bug (SURVEY.md M15, 2.9.2).

    ``num_partitions=None`` sizes the training parallelism from the token
    count (:data:`_W2V_TOKENS_PER_PARTITION`): MLlib's default
    ``numPartitions=1`` trains the whole corpus in ONE task — fine for the
    fixture corpora (and kept there for bit-stable fits), a serial
    bottleneck on a real cluster where the fit would otherwise ignore
    every executor but one.

    100 TB posture — the limit is the VOCABULARY, not the corpus: MLlib
    Word2Vec materializes the full vocab x vector_size float matrix on the
    driver and broadcasts a copy to every executor (two copies per epoch
    hogwild-merge), so memory scales with distinct surviving tokens, never
    with corpus bytes. Web-scale corpora must therefore bound the vocab
    BEFORE the fit: raise ``min_count`` (the standard mitigation — vocab
    growth is roughly Heaps-law sublinear, and min_count=5+ caps it at
    tens of millions of tokens even at 100 TB), pre-mask high-cardinality
    junk (the M1 scrubber already folds uuids/hex/paths to fixed tokens,
    which is what keeps THIS corpus's vocab bounded), or switch to a
    hashing-trick doc embedding (dimension fixed a priori; no vocab table
    at all) when ids must stay raw. See SCALE.md "Word2Vec vocab cap"."""
    from pyspark.ml.feature import Word2Vec

    from .model_cache import memo

    def build():
        nparts = (num_partitions if num_partitions is not None
                  else _w2v_num_partitions(docs_tokens, tokens_col))
        w2v = Word2Vec(vectorSize=vector_size, windowSize=window,
                       minCount=min_count, maxIter=max_iter, seed=seed,
                       numPartitions=nparts,
                       inputCol=tokens_col, outputCol="doc_vec")
        return w2v.fit(docs_tokens)

    key = None if cache_key is None else (
        "w2v", cache_key, vector_size, window, min_count, max_iter, seed,
        tokens_col, num_partitions)
    return memo(key, build)


@register("word2vec_doc_vectors", oracle=None, tags=("clustering", "ml"))
def word2vec_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14+M15 surface (rows-only): per-doc embedding norm and dimension
    from the word2vec path (masked -> tokenized -> trained -> mean-pooled)."""
    from ..functions.text import mask_error_text, whitespace_tokens
    from ..plans.registry import retain_for_consumer
    docs = table(spark, sf_dir, "documents")
    # consumer-scoped cache: the fit consumes this stream THREE times
    # (token-count partition sizing, vocab pass, sentence build) and the
    # returned transform plan a fourth — uncached, each pays the full
    # regex-mask + tokenize chain (guide §5.1). The cached frame is the
    # narrow (doc_id, tokens) projection, released by the consumer.
    toks = retain_for_consumer(
        docs.where(F.length(F.trim("text")) > 0)
            .select("doc_id",
                    whitespace_tokens(mask_error_text("text")).alias("tokens")))
    model = fit_word2vec(toks, cache_key=sf_dir)
    out = model.transform(toks)
    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("doc_vec")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    return out.select("doc_id", F.size(arr).cast("long").alias("dim"),
                      F.round(norm, 6).alias("l2_norm"))


# ---------------------------------------------------------------------------
# Exact distributed silhouette (squared-Euclidean decomposition)
# ---------------------------------------------------------------------------

_SIL_DEC = ("CAST(CAST(SUM(CAST({x} AS DECIMAL(27,18))) AS VARCHAR) "
            "AS DOUBLE)")


@register(
    "silhouette_by_label",
    oracle=f"""
    WITH pe AS (
      SELECT vec_id, label, p.pos AS pos, CAST(p.val AS DOUBLE) AS val
      FROM (
        SELECT vec_id, label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(pos := i, val := embedding[i]))) AS p
        FROM embeddings
      )
    ),
    n2 AS (
      SELECT vec_id, label, {_SIL_DEC.format(x='val * val')} AS n2
      FROM pe GROUP BY vec_id, label
    ),
    ls AS (
      SELECT label AS lab2, pos, {_SIL_DEC.format(x='val')} AS s
      FROM pe GROUP BY label, pos
    ),
    lq AS (
      SELECT label AS lab2, {_SIL_DEC.format(x='n2')} AS q,
             COUNT(*) AS n_l
      FROM n2 GROUP BY label
    ),
    dots AS (
      SELECT pe.vec_id, ls.lab2, {_SIL_DEC.format(x='pe.val * ls.s')} AS dt
      FROM pe JOIN ls ON ls.pos = pe.pos
      GROUP BY pe.vec_id, ls.lab2
    ),
    d2 AS (
      SELECT n2.vec_id, n2.label, d.lab2, lq.n_l,
             lq.n_l * n2.n2 - 2 * d.dt + lq.q AS d2sum
      FROM dots d
      JOIN n2 ON n2.vec_id = d.vec_id
      JOIN lq ON lq.lab2 = d.lab2
    ),
    ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN lab2 = label THEN d2sum / (n_l - 1) END) AS a,
             MIN(CASE WHEN lab2 <> label THEN d2sum / n_l END) AS b
      FROM d2 GROUP BY vec_id, label
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND({_SIL_DEC.format(x='(b - a) / GREATEST(a, b)')} / COUNT(*),
                 6) AS mean_silhouette
    FROM ab GROUP BY label
    """,
    tags=("clustering", "metrics", "vectors"),
)
def silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT silhouette per ground-truth label over ``embeddings`` — the
    metric the reference samples (sklearn ``silhouette_score`` with
    ``sample_size=1000``, ``TF-IDF_K-Means_approach.ipynb:8163-8171``)
    because its all-pairs form is O(n^2); with SQUARED Euclidean distance
    the per-cluster mean distance decomposes over cluster sums

        sum_{y in L} |x - y|^2  =  n_L |x|^2  -  2 x . S_L  +  Q_L

    (S_L = per-dimension component sums, Q_L = sum of member norms), so
    the exact metric is O(n * k * d): one long-form pass for the
    |labels| x dim sum table (map-side combined), a pos-equijoin of the
    point stream against that broadcast-sized table for all point-cluster
    dots, and tiny per-point min/agg. a(i) excludes self (sklearn
    semantics, denominator n_C - 1); b(i) = min over other clusters;
    s(i) = (b - a) / max(a, b). All sums are per-term DECIMAL (exact,
    order-independent), so Spark and DuckDB produce bit-identical doubles.

    MLlib's ClusteringEvaluator implements the same decomposition but
    with a(i) including self; this operator pins the sklearn definition
    the reference actually reports, and the cross-engine oracle (not a
    library call) is the correctness anchor.
    """
    emb = table(spark, sf_dir, "embeddings")
    pe = (emb.select("vec_id", "label",
                     F.posexplode("embedding").alias("pos0", "valf"))
          .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    n2 = (pe.groupBy("vec_id", "label")
          .agg(_dec_term_sum(F.col("val") * F.col("val")).alias("n2")))
    ls = (pe.groupBy(F.col("label").alias("lab2"), F.col("pos"))
          .agg(_dec_term_sum(F.col("val")).alias("s")))
    lq = (n2.groupBy(F.col("label").alias("lab2"))
          .agg(_dec_term_sum(F.col("n2")).alias("q"),
               F.count("*").alias("n_l")))
    dots = (pe.join(F.broadcast(ls), "pos")
            .groupBy("vec_id", "lab2")
            .agg(_dec_term_sum(F.col("val") * F.col("s")).alias("dt")))
    d2 = (dots.join(n2, "vec_id")
          .join(F.broadcast(lq), "lab2")
          .select("vec_id", "label", "lab2", "n_l",
                  (F.col("n_l") * F.col("n2") - 2 * F.col("dt") + F.col("q"))
                  .alias("d2sum")))
    ab = (d2.groupBy("vec_id", "label")
          .agg(F.min(F.when(F.col("lab2") == F.col("label"),
                            F.col("d2sum") / (F.col("n_l") - 1))).alias("a"),
               F.min(F.when(F.col("lab2") != F.col("label"),
                            F.col("d2sum") / F.col("n_l"))).alias("b")))
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (ab.groupBy("label")
            .agg(F.count("*").cast("long").alias("n_points"),
                 F.round(_dec_term_sum(sil) / F.count("*"), 6)
                 .alias("mean_silhouette")))


@register(
    "internal_cluster_metrics",
    oracle=f"""
    WITH pe AS (
      SELECT vec_id, label, p.pos AS pos, CAST(p.val AS DOUBLE) AS val
      FROM (
        SELECT vec_id, label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(pos := i, val := embedding[i]))) AS p
        FROM embeddings
      )
    ),
    n2 AS (
      SELECT vec_id, label, {_SIL_DEC.format(x='val * val')} AS n2
      FROM pe GROUP BY vec_id, label
    ),
    cent AS (  -- per-label component means (exact)
      SELECT label, pos, {_SIL_DEC.format(x='val')} / COUNT(*) AS m
      FROM pe GROUP BY label, pos
    ),
    gcent AS (  -- global component means (exact)
      SELECT pos, {_SIL_DEC.format(x='val')} / COUNT(*) AS g
      FROM pe GROUP BY pos
    ),
    lstat AS (  -- |mu_L|^2 and mu_L . mu per label (exact folds)
      SELECT c.label,
             {_SIL_DEC.format(x='c.m * c.m')} AS mu2,
             {_SIL_DEC.format(x='c.m * gc.g')} AS mug
      FROM cent c JOIN gcent gc ON gc.pos = c.pos
      GROUP BY c.label
    ),
    lq AS (
      SELECT label, COUNT(*) AS n_l, {_SIL_DEC.format(x='n2')} AS q
      FROM n2 GROUP BY label
    ),
    g2 AS (SELECT {_SIL_DEC.format(x='g * g')} AS g2 FROM gcent),
    own AS (  -- per-point dot with OWN centroid
      SELECT pe.vec_id, pe.label, {_SIL_DEC.format(x='pe.val * c.m')} AS xm
      FROM pe JOIN cent c ON c.label = pe.label AND c.pos = pe.pos
      GROUP BY pe.vec_id, pe.label
    ),
    scat AS (  -- s_L = mean |x - mu_L|
      SELECT o.label,
             {_SIL_DEC.format(
                 x='SQRT(GREATEST(n2.n2 - 2 * o.xm + l.mu2, 0))')}
               / COUNT(*) AS s
      FROM own o
      JOIN n2 ON n2.vec_id = o.vec_id
      JOIN lstat l ON l.label = o.label
      GROUP BY o.label
    ),
    cdot AS (  -- dot(mu_i, mu_j) for i != j (exact fold per pair)
      SELECT a.label AS la, b.label AS lb,
             {_SIL_DEC.format(x='a.m * b.m')} AS ab
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      GROUP BY a.label, b.label
    ),
    pairs AS (  -- max R_ij per cluster i
      SELECT cd.la,
             MAX((sa.s + sb.s) /
                 SQRT(GREATEST(la2.mu2 - 2 * cd.ab + lb2.mu2, 1e-300)))
               AS rmax
      FROM cdot cd
      JOIN scat sa ON sa.label = cd.la
      JOIN scat sb ON sb.label = cd.lb
      JOIN lstat la2 ON la2.label = cd.la
      JOIN lstat lb2 ON lb2.label = cd.lb
      GROUP BY cd.la
    ),
    tot AS (  -- per-term exact sums over the k label rows
      SELECT SUM(l.n_l) AS n, COUNT(*) AS k,
             {_SIL_DEC.format(x='l.q - l.n_l * ls.mu2')} AS w,
             {_SIL_DEC.format(
                 x='l.n_l * (ls.mu2 - 2 * ls.mug + (SELECT g2 FROM g2))')}
               AS b
      FROM lq l JOIN lstat ls ON ls.label = l.label
    )
    SELECT CAST(n AS BIGINT) AS n_points, CAST(k AS BIGINT) AS n_labels,
           ROUND((b / (k - 1)) / (w / (n - k)), 6) AS calinski_harabasz,
           (SELECT ROUND({_SIL_DEC.format(x='rmax')} / COUNT(*), 6)
            FROM pairs) AS davies_bouldin
    FROM tot
    """,
    tags=("clustering", "metrics", "vectors"),
)
def internal_cluster_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz and Davies-Bouldin over the ground-truth labels —
    the two internal quality indices sklearn ships beside silhouette, both
    decomposable over per-label sums and so EXACTLY computable at scale:

    - CH = (B/(k-1)) / (W/(n-k)); between-scatter
      B = sum_L n_L |mu_L - mu|^2 expands to n_L (|mu_L|^2 - 2 mu_L.mu +
      |mu|^2), within-scatter W = sum_L (Q_L - n_L |mu_L|^2) — nothing but
      per-label component means, member-norm sums, and the global mean.
    - DB = mean_i max_{j != i} (s_i + s_j) / |mu_i - mu_j| with
      s_L = mean |x - mu_L|; the only corpus-sized pass beyond the sums is
      the per-point dot with its OWN centroid (a (label,pos)-equijoin of
      n*d rows, map-side combined).

    Every multi-term reduction goes through per-term DECIMAL sums
    (order-independent) and the scalar algebra is identical expression-
    for-expression with the oracle, so the doubles match bit-for-bit;
    textbook-definition numpy agreement is pinned in tests.
    """
    emb = table(spark, sf_dir, "embeddings")
    pe = (emb.select("vec_id", "label",
                     F.posexplode("embedding").alias("pos0", "valf"))
          .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    dec = _dec_term_sum
    n2 = (pe.groupBy("vec_id", "label")
          .agg(dec(F.col("val") * F.col("val")).alias("n2")))
    cent = (pe.groupBy("label", "pos")
            .agg((dec(F.col("val")) / F.count("*")).alias("m")))
    gcent = (pe.groupBy("pos")
             .agg((dec(F.col("val")) / F.count("*")).alias("g")))
    lstat = (cent.join(F.broadcast(gcent), "pos")
             .groupBy("label")
             .agg(dec(F.col("m") * F.col("m")).alias("mu2"),
                  dec(F.col("m") * F.col("g")).alias("mug")))
    lq = (n2.groupBy("label")
          .agg(F.count("*").alias("n_l"), dec(F.col("n2")).alias("q")))
    g2 = gcent.agg(dec(F.col("g") * F.col("g")).alias("g2"))
    own = (pe.join(F.broadcast(cent), ["label", "pos"])
           .groupBy("vec_id", "label")
           .agg(dec(F.col("val") * F.col("m")).alias("xm")))
    scat = (own.join(n2, ["vec_id", "label"])
            .join(F.broadcast(lstat), "label")
            .groupBy("label")
            .agg((dec(F.sqrt(F.greatest(
                F.col("n2") - 2 * F.col("xm") + F.col("mu2"), F.lit(0.0))))
                / F.count("*")).alias("s")))
    ca = cent.select(F.col("label").alias("la"), "pos", F.col("m").alias("ma"))
    cb = cent.select(F.col("label").alias("lb"),
                     F.col("pos").alias("posb"), F.col("m").alias("mb"))
    cdot = (ca.join(cb, (F.col("pos") == F.col("posb")) &
                    (F.col("la") != F.col("lb")))
            .groupBy("la", "lb")
            .agg(dec(F.col("ma") * F.col("mb")).alias("ab")))
    sa = scat.select(F.col("label").alias("la"), F.col("s").alias("s_a"))
    sb = scat.select(F.col("label").alias("lb"), F.col("s").alias("s_b"))
    la2 = lstat.select(F.col("label").alias("la"), F.col("mu2").alias("mu2_a"))
    lb2 = lstat.select(F.col("label").alias("lb"), F.col("mu2").alias("mu2_b"))
    pairs = (cdot.join(F.broadcast(sa), "la").join(F.broadcast(sb), "lb")
             .join(F.broadcast(la2), "la").join(F.broadcast(lb2), "lb")
             .groupBy("la")
             .agg(F.max((F.col("s_a") + F.col("s_b")) /
                        F.sqrt(F.greatest(
                            F.col("mu2_a") - 2 * F.col("ab") + F.col("mu2_b"),
                            F.lit(1e-300)))).alias("rmax")))
    db = pairs.agg(F.round(dec(F.col("rmax")) / F.count("*"), 6)
                   .alias("davies_bouldin"))
    tot = (lq.join(F.broadcast(lstat), "label")
           .crossJoin(F.broadcast(g2))
           .agg(F.sum("n_l").alias("n"), F.count("*").alias("k"),
                dec(F.col("q") - F.col("n_l") * F.col("mu2")).alias("w"),
                dec(F.col("n_l") * (F.col("mu2") - 2 * F.col("mug")
                                    + F.col("g2"))).alias("b")))
    ch = tot.select(F.col("n").cast("long").alias("n_points"),
                    F.col("k").cast("long").alias("n_labels"),
                    F.round((F.col("b") / (F.col("k") - 1))
                            / (F.col("w") / (F.col("n") - F.col("k"))), 6)
                    .alias("calinski_harabasz"))
    return ch.crossJoin(F.broadcast(db))
