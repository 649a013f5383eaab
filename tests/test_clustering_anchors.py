"""Reference-shaped anchors for the model-backed clustering path (VERDICT
round-1 item 7): pin cluster-level invariants at the reference's
hyperparameter SHAPE — word2vec at vector_size=200/high-iter
(``word2vec_dbscan_approach.ipynb:133-145``: gensim size=200, iter=1000) and
KMeans best-of-n_init cost convergence
(``TF-IDF_K-Means_approach.ipynb:7897-7902``: n_init=100).

Raw vectors are NOT comparable across architectures (MLlib skip-gram/HS vs
gensim CBOW/negative — SURVEY.md M14), so the assertions are the invariants
clustering actually depends on: mean-pool determinism, near-dup geometry,
and restart-count monotonicity of the k-means objective.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fts_errors_clustering_spark.functions.text import (mask_error_text,
                                                        whitespace_tokens)
from fts_errors_clustering_spark.operators.clustering import (fit_kmeans_best,
                                                              fit_word2vec)
from fts_errors_clustering_spark.sources.readers import table

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def w2v_200(spark):
    """Word2vec at the reference's 200-dim shape. maxIter=32 stands in for
    gensim's iter=1000 (MLlib epochs converge far faster on the fixture
    corpus; the SHAPE anchor is dimensionality + enough epochs to leave the
    init regime, not the raw epoch count)."""
    docs = table(spark, SF_SMALL, "documents")
    toks = (docs.where(F.length(F.trim("text")) > 0)
            .select("doc_id",
                    whitespace_tokens(mask_error_text("text")).alias("tokens")))
    model = fit_word2vec(toks, vector_size=200, max_iter=32)
    return toks, model


def test_w2v_200d_shape_and_nondegeneracy(w2v_200):
    toks, model = w2v_200
    out = model.transform(toks)
    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("doc_vec")
    stats = (out.select(
        F.size(arr).alias("dim"),
        F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
         .alias("norm"))
        .agg(F.min("dim").alias("dmin"), F.max("dim").alias("dmax"),
             F.min("norm").alias("nmin"),
             F.count_distinct(F.round("norm", 12)).alias("n_norms"))
        .first())
    assert stats.dmin == 200 and stats.dmax == 200
    assert stats.nmin > 0.0          # no collapsed/zero doc vectors
    assert stats.n_norms > 10        # embeddings are not all identical


def test_w2v_partition_heuristic(spark, monkeypatch):
    """The word2vec fit must stay at numPartitions=1 on fixture-sized
    corpora (bit-stable) and fan out proportionally to token volume,
    capped — the property that keeps the fit from serializing on one
    task at cluster scale."""
    from fts_errors_clustering_spark.operators import clustering as C
    toks = spark.createDataFrame(
        [(i, ["a", "b", "c"]) for i in range(4)],
        "doc_id long, tokens array<string>")
    assert C._w2v_num_partitions(toks, "tokens") == 1  # 12 tokens -> 1
    monkeypatch.setattr(C, "_W2V_TOKENS_PER_PARTITION", 4)
    assert C._w2v_num_partitions(toks, "tokens") == 3  # 12 // 4
    monkeypatch.setattr(C, "_W2V_MAX_PARTITIONS", 2)
    assert C._w2v_num_partitions(toks, "tokens") == 2  # capped
    # the token count is the SQL sum of sizes, null rows included
    monkeypatch.setattr(C, "_W2V_TOKENS_PER_PARTITION", 1)
    monkeypatch.setattr(C, "_W2V_MAX_PARTITIONS", 100)
    odd = spark.createDataFrame(
        [(0, ["a"] * 7), (1, None), (2, []), (3, ["b"] * 5)],
        "doc_id long, tokens array<string>")
    assert C._w2v_num_partitions(odd, "tokens") == odd.agg(
        F.sum(F.size("tokens"))).first()[0]
    assert C._w2v_num_partitions(odd.limit(0), "tokens") == 1


def test_w2v_mean_pool_determinism(w2v_200):
    """M15 sentence2vec is an exact mean-pool: equal token lists must map to
    bit-identical doc vectors."""
    toks, model = w2v_200
    dup = toks.limit(20).select((F.col("doc_id") + 900000).alias("doc_id"),
                                "tokens")
    out = model.transform(toks.unionByName(dup)).cache()
    a = out.where(F.col("doc_id") < 900000).selectExpr(
        "doc_id", "doc_vec AS va")
    b = out.where(F.col("doc_id") >= 900000).selectExpr(
        "doc_id - 900000 AS doc_id", "doc_vec AS vb")
    joined = a.join(b, "doc_id").collect()
    assert len(joined) == 20
    for r in joined:
        assert r.va == r.vb, r.doc_id


def test_w2v_near_dup_geometry(w2v_200):
    """Cluster-level invariant: a doc with ONE appended token must stay far
    closer (cosine) to its original than the average random pair — the
    property DBSCAN's eps-neighborhoods rely on."""
    import numpy as np
    toks, model = w2v_200
    dup = (toks.limit(40)
           .select((F.col("doc_id") + 900000).alias("doc_id"),
                   F.concat("tokens", F.array(F.lit("xdup"))).alias("tokens")))
    out = model.transform(toks.unionByName(dup))
    vecs = {r.doc_id: np.array(r.doc_vec.toArray())
            for r in out.collect()}

    def cos(u, v):
        nu, nv = np.linalg.norm(u), np.linalg.norm(v)
        return float(u @ v / (nu * nv)) if nu > 0 and nv > 0 else 0.0

    dup_sims = [cos(vecs[d], vecs[d + 900000])
                for d in sorted(k for k in vecs if k < 900000)[:40]
                if d + 900000 in vecs]
    rng = np.random.default_rng(3)
    ids = sorted(k for k in vecs if k < 900000)
    rand_sims = [cos(vecs[a], vecs[b])
                 for a, b in zip(rng.choice(ids, 200), rng.choice(ids, 200))
                 if a != b]
    # the ~31-word fixture vocab makes even random docs similar (~0.97);
    # the anchor is the GAP: one-token edits are indistinguishable from
    # identity (>0.999) while random pairs sit measurably below
    assert min(dup_sims) > 0.999
    assert (sum(dup_sims) / len(dup_sims)
            > sum(rand_sims) / len(rand_sims) + 0.015)


def test_kmeans_n_init_cost_convergence(spark):
    """M12: the best-of-n restart loop must be monotone — more restarts never
    worsen the kept model's cost (the reason the reference runs n_init=100),
    and the kept cost equals the min over the individual seeds."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    emb = table(spark, SF_SMALL, "embeddings")
    feats = emb.select("vec_id",
                       array_to_vector("embedding").alias("features")).cache()

    seed_costs = []
    for i in range(5):
        m = KMeans(k=10, maxIter=50, seed=42 + i,
                   featuresCol="features").fit(feats)
        seed_costs.append(m.summary.trainingCost)

    costs = {}
    for n in (1, 3, 5):
        model = fit_kmeans_best(feats, k=10, n_init=n, max_iter=50,
                                allow_driver_tier=False)
        costs[n] = model.summary.trainingCost
    assert costs[3] <= costs[1] + 1e-9
    assert costs[5] <= costs[3] + 1e-9
    for n in (1, 3, 5):
        assert math.isclose(costs[n], min(seed_costs[:n]), rel_tol=1e-9)


def test_kmeans_cluster_sizes_certified(spark):
    """The in-row certification (r09 verdict ask #7): every row carries the
    fit's cost ratio vs the k=1 total SS, the ratio respects the floor the
    operator enforces, all k clusters are nonempty, and the sizes sum to
    the corpus count — so the driver's rows-only hash is a clustering
    regression gate."""
    from fts_errors_clustering_spark.operators.clustering import (
        KMEANS_COST_FLOOR, kmeans_cluster_sizes)
    rows = kmeans_cluster_sizes(spark, SF_SMALL).collect()
    assert len(rows) == 10
    assert all(r.n > 0 and r.meets_floor for r in rows)
    ratios = {r.cost_ratio for r in rows}
    assert len(ratios) == 1
    assert 0.0 < ratios.pop() <= KMEANS_COST_FLOOR
    n = table(spark, SF_SMALL, "embeddings").count()
    assert sum(r.n for r in rows) == n


def test_external_metrics_golden_values(spark):
    """M13 golden: the contingency-table metric algebra must reproduce the
    sklearn-definition values on hand-computed assignments (the reference
    consumes sklearn.metrics directly, ``TF-IDF_K-Means_approach.ipynb:
    8163-8171``). Values below were computed by hand from the entropy /
    adjusted-Rand definitions (natural log, 6-decimal rounding)."""
    from fts_errors_clustering_spark.operators.clustering import \
        external_cluster_metrics

    cases = [
        # (labels, preds, (homogeneity, completeness, v_measure, ari))
        (["a", "a", "a", "b", "b", "c"], [0, 0, 1, 1, 2, 2],
         (0.543112, 0.5, 0.520665, 0.074074)),
        (["a", "a", "b", "b"], [1, 1, 0, 0], (1.0, 1.0, 1.0, 1.0)),
        (["a", "a", "b", "c"], [0, 0, 0, 0], (0.0, 1.0, 0.0, 0.0)),
    ]
    for labels, preds, want in cases:
        df = spark.createDataFrame(list(zip(labels, preds)),
                                   "lab string, prd int")
        row = external_cluster_metrics(df, "lab", "prd").collect()[0]
        got = (row.homogeneity, row.completeness, row.v_measure, row.ari)
        for g, w in zip(got, want):
            assert abs(g - w) < 1e-6, (labels, preds, got, want)


def test_silhouette_matches_bruteforce(spark):
    """silhouette_by_label's decomposed O(n*k*d) form must equal the
    textbook O(n^2) squared-Euclidean silhouette (sklearn semantics:
    a(i) excludes self) computed densely in numpy."""
    import numpy as np

    from fts_errors_clustering_spark.plans.registry import all_queries
    from fts_errors_clustering_spark.sources.readers import table

    from .conftest import SF_SMALL

    rows = (table(spark, SF_SMALL, "embeddings")
            .select("vec_id", "label", "embedding").collect())
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    y = np.array([r.label for r in rows])
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    sil = np.zeros(len(X))
    for i in range(len(X)):
        own = y == y[i]
        a = d2[i, own].sum() / (own.sum() - 1)
        b = min(d2[i, y == L].mean() for L in np.unique(y) if L != y[i])
        sil[i] = (b - a) / max(a, b)
    expect = {int(L): sil[y == L].mean() for L in np.unique(y)}

    got = all_queries()["silhouette_by_label"].fn(spark, SF_SMALL).collect()
    assert {r.label for r in got} == set(expect)
    for r in got:
        assert abs(r.mean_silhouette - expect[r.label]) < 2e-6, (
            r.label, r.mean_silhouette, expect[r.label])
        assert -1.0 <= r.mean_silhouette <= 1.0


def test_internal_metrics_match_bruteforce(spark):
    """internal_cluster_metrics' decomposed CH and DB must equal the
    textbook definitions computed densely in numpy."""
    import numpy as np

    from fts_errors_clustering_spark.plans.registry import all_queries
    from fts_errors_clustering_spark.sources.readers import table

    from .conftest import SF_SMALL

    rows = (table(spark, SF_SMALL, "embeddings")
            .select("vec_id", "label", "embedding").collect())
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    y = np.array([r.label for r in rows])
    labels = np.unique(y)
    n, k = len(X), len(labels)
    mu = X.mean(axis=0)
    mus = {L: X[y == L].mean(axis=0) for L in labels}
    B = sum((y == L).sum() * ((mus[L] - mu) ** 2).sum() for L in labels)
    W = sum(((X[y == L] - mus[L]) ** 2).sum() for L in labels)
    ch = (B / (k - 1)) / (W / (n - k))
    s = {L: np.linalg.norm(X[y == L] - mus[L], axis=1).mean() for L in labels}
    db = np.mean([max((s[i] + s[j]) / np.linalg.norm(mus[i] - mus[j])
                      for j in labels if j != i) for i in labels])

    got = (all_queries()["internal_cluster_metrics"]
           .fn(spark, SF_SMALL).first())
    assert got.n_points == n and got.n_labels == k
    assert abs(got.calinski_harabasz - ch) < 1e-5, (got.calinski_harabasz, ch)
    assert abs(got.davies_bouldin - db) < 1e-5, (got.davies_bouldin, db)


def test_kmeans_driver_tier_semantics(spark):
    """The driver kmeans tier (<= DRIVER_KMEANS_ROWS rows: seeded numpy
    kmeans++/Lloyd — the reference's sklearn semantics verbatim) must be
    deterministic per seed, monotone in restarts, competitive with the
    MLlib k-means|| fit, and its JVM-expression transform must assign every
    row to its nearest returned center."""
    import numpy as np
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import functions as F

    from fts_errors_clustering_spark.operators.clustering import \
        fit_kmeans_best
    from fts_errors_clustering_spark.sources.readers import table

    emb = table(spark, SF_SMALL, "embeddings")
    feats = emb.select("vec_id",
                       array_to_vector("embedding").alias("features")).cache()

    m1 = fit_kmeans_best(feats, k=10, n_init=1, max_iter=50)
    m1b = fit_kmeans_best(feats, k=10, n_init=1, max_iter=50)
    assert type(m1).__name__ == "_DriverKMeansModel"
    assert m1.summary.trainingCost == m1b.summary.trainingCost
    m3 = fit_kmeans_best(feats, k=10, n_init=3, max_iter=50)
    m5 = fit_kmeans_best(feats, k=10, n_init=5, max_iter=50)
    assert m3.summary.trainingCost <= m1.summary.trainingCost + 1e-9
    assert m5.summary.trainingCost <= m3.summary.trainingCost + 1e-9

    mllib = fit_kmeans_best(feats, k=10, n_init=3, max_iter=50,
                            allow_driver_tier=False)
    assert m3.summary.trainingCost <= 1.2 * mllib.summary.trainingCost

    # transform == nearest center, and its inertia == the reported cost
    out = m3.transform(feats).select(
        vector_to_array("features").alias("x"), "prediction").collect()
    C = np.array(m3.clusterCenters())
    X = np.array([r.x for r in out])
    preds = np.array([r.prediction for r in out])
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
    assert (preds == d.argmin(1)).all()
    assert abs(d.min(1).sum() - m3.summary.trainingCost) < 1e-6 * max(
        m3.summary.trainingCost, 1.0)


def _literal_kmeans_prediction(centers, features_col):
    """The driver tier's earlier transform, kept as the reference: k
    separate ``aggregate(zip_with(...))`` trees over one scalar literal per
    center component."""
    from pyspark.ml.functions import vector_to_array
    x = vector_to_array(F.col(features_col))
    dists = F.array(*[
        F.aggregate(
            F.zip_with(x, F.array(*[F.lit(float(v)) for v in c]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v)
        for c in centers])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _assert_transform_matches_literal_form(model, feats, features_col):
    got = model.transform(feats).withColumn(
        "ref", _literal_kmeans_prediction(model.clusterCenters(),
                                          features_col))
    rows = got.select("prediction", "ref").collect()
    assert rows and all(r.prediction == r.ref for r in rows), [
        (r.prediction, r.ref) for r in rows if r.prediction != r.ref][:5]
    return rows


def test_kmeans_transform_matches_literal_form_on_lsa_features(spark):
    """The array-literal transform labels every row exactly as the scalar
    literal form did, on flow A's own features (sf0.001 LSA, L2-normed)."""
    from pyspark.ml.functions import array_to_vector

    from fts_errors_clustering_spark.operators.tfidf import (fit_lsa_svd,
                                                             fit_tfidf)

    model_tfidf, feats = fit_tfidf(table(spark, SF_SMALL, "documents"))
    svd_out, _ = fit_lsa_svd(
        feats, k=10, dim=len(model_tfidf.stages[2].vocabulary))
    nrm = F.sqrt(F.aggregate("lsa_svd", F.lit(0.0), lambda a, x: a + x * x))
    lsa = svd_out.select(array_to_vector(
        F.when(nrm > 0, F.transform("lsa_svd", lambda x: x / nrm))
         .otherwise(F.col("lsa_svd"))).alias("lsa_features")).cache()
    try:
        model = fit_kmeans_best(lsa, k=10, n_init=2,
                                features_col="lsa_features")
        assert type(model).__name__ == "_DriverKMeansModel"
        rows = _assert_transform_matches_literal_form(model, lsa,
                                                      "lsa_features")
        assert len({r.prediction for r in rows}) > 1
    finally:
        lsa.unpersist()


def test_kmeans_transform_exact_ties_pick_first_center(spark):
    """Exact distance ties (a duplicated center, points equidistant from two
    centers) go to the lowest center index, as in the literal form."""
    import numpy as np
    from pyspark.ml.functions import array_to_vector

    from fts_errors_clustering_spark.operators.clustering import \
        _DriverKMeansModel

    centers = np.array([[2.0, 0.0], [0.0, 0.0], [2.0, 0.0], [0.0, 2.0]])
    model = _DriverKMeansModel(centers, 0.0, "f")
    pts = [(1.0, 0.0), (2.0, 0.0), (0.0, 0.0), (1.0, 1.0), (0.0, 1.0),
           (3.0, 5.0)]
    feats = spark.createDataFrame(pts, "x double, y double").select(
        array_to_vector(F.array("x", "y")).alias("f"))
    rows = _assert_transform_matches_literal_form(model, feats, "f")
    assert [r.prediction for r in rows] == [0, 0, 1, 0, 1, 3]


def test_external_metrics_sql_text_same_plan_as_column_form(spark):
    """The SQL-text M13 plan is the Column form's analyzed plan
    (``sameSemantics``), and both give the same rows on the edge inputs:
    one cluster, one label, an empty input, and with ``n_clusters``."""
    from pyspark.sql import Window

    from fts_errors_clustering_spark.operators.clustering import (
        _dec_term_sum, external_cluster_metrics)

    def column_form(assigned, label_col, pred_col, include_pred_count):
        pts = assigned.select(F.col(label_col).alias("c"),
                              F.col(pred_col).alias("k"))
        cont = pts.groupBy("c", "k").agg(F.count("*").alias("nij"))
        wall, wc = Window.partitionBy(), Window.partitionBy("c")
        wk = Window.partitionBy("k")
        annotated = cont.select(
            "c", "k", "nij",
            F.sum("nij").over(wall).alias("n"),
            F.sum("nij").over(wc).alias("ai"),
            F.sum("nij").over(wk).alias("bj"),
            F.row_number().over(wc.orderBy("k")).alias("rn_c"),
            F.row_number().over(wk.orderBy("c")).alias("rn_k"))
        comb = lambda c: (c * (c - F.lit(1))).cast("long")  # noqa: E731
        ent = lambda num, den: -_dec_term_sum(  # noqa: E731
            (F.col("nij") / F.col("n")) * F.log(F.col(num) / F.col(den)))
        row = annotated.agg(
            ent("ai", "n").alias("hc"), ent("bj", "n").alias("hk"),
            ent("nij", "bj").alias("hck"), ent("nij", "ai").alias("hkc"),
            F.sum(comb(F.col("nij"))).alias("sij"),
            F.sum(F.when(F.col("rn_c") == 1, comb(F.col("ai")))).alias("sa"),
            F.sum(F.when(F.col("rn_k") == 1, comb(F.col("bj")))).alias("sb"),
            comb(F.max("n")).alias("sn"),
            F.sum(F.when(F.col("rn_k") == 1, 1).otherwise(0)).alias("nk"))
        h = F.when(F.col("hc") > 0, F.lit(1.0) - F.col("hck") / F.col("hc")
                   ).otherwise(F.lit(1.0))
        c = F.when(F.col("hk") > 0, F.lit(1.0) - F.col("hkc") / F.col("hk")
                   ).otherwise(F.lit(1.0))
        v = F.when((h + c) > 0, F.lit(2.0) * h * c / (h + c)
                   ).otherwise(F.lit(0.0))
        expected = F.col("sa").cast("double") * F.col("sb") / F.col("sn")
        maxi = (F.col("sa") + F.col("sb")) / F.lit(2.0)
        ari = (F.col("sij") - expected) / (maxi - expected)
        cols = [F.round(h, 6).alias("homogeneity"),
                F.round(c, 6).alias("completeness"),
                F.round(v, 6).alias("v_measure"),
                F.round(ari, 6).alias("ari")]
        if include_pred_count:
            cols.append(F.col("nk").cast("long").alias("n_clusters"))
        return row.select(*cols)

    cases = {
        "mixed": [("a", 0), ("a", 0), ("a", 1), ("b", 1), ("b", 2),
                  ("c", 2)],
        "one_cluster": [("a", 0), ("b", 0), ("c", 0)],
        "one_label": [("a", 0), ("a", 1), ("a", 2)],
        "empty": [],
    }
    for name, pts in cases.items():
        df = spark.createDataFrame(pts, "lab string, prd int")
        for with_count in (False, True):
            new = external_cluster_metrics(df, "lab", "prd",
                                           include_pred_count=with_count)
            ref = column_form(df, "lab", "prd", with_count)
            assert new.sameSemantics(ref), (name, with_count)
            assert new.collect() == ref.collect(), (name, with_count)
