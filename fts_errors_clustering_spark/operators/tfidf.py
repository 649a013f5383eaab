"""TF-IDF: the reference's vectorization core (SURVEY.md M5-M11), twice.

1. A pure-DataFrame restatement (explode -> group -> join), SQL-oracle-checked:
   the reference's hand-rolled TF (``TF-IDF_K-Means_approach.ipynb:5514-5527``),
   IDF (``:5541-5556``) and tf*idf product (``:5593-5599``) — but sparse
   (one row per (doc, term)) instead of the notebook's dense 2826x852
   list-of-dicts matrix (its self-acknowledged anti-pattern, cell 20), and
   with the SMOOTHED sklearn formula ``ln((N+1)/(df+1)) + 1`` pinned as
   golden (the reference mixes smoothed/unsmoothed, SURVEY.md 2.9.5).

2. The ``pyspark.ml`` pipeline (RegexTokenizer -> StopWordsRemover ->
   CountVectorizer(minDF/maxDF per M9) -> IDF -> Normalizer(p=2)), the
   scale path feeding KMeans/LSA — model-backed, so rows-only checked, with
   invariants (L2 norm, vocab pruning) asserted in tests/test_tfidf.py.

Scale: the explode produces |tokens| rows; group-bys partially aggregate
map-side; the tiny (term, idf) side of the tf*idf join is broadcast. At
100 TB the same plan holds — term dictionaries are small relative to corpora.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import (IDF, CountVectorizer, Normalizer,
                                RegexTokenizer, StopWordsRemover)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import sql_whitespace_tokens
from ..plans.registry import register
from ..sources.readers import table
from .textprep import document_tokens

_TOKS_CTE = f"""
    toks AS (SELECT doc_id, unnest({sql_whitespace_tokens('text')}) AS token
             FROM documents WHERE length(trim(text)) > 0)
"""


# --- M8: document frequency + smoothed IDF ----------------------------------

@register(
    "term_idf",
    oracle=f"""
    WITH {_TOKS_CTE},
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY token)
    SELECT token, doc_freq,
           ROUND(LN((1.0 + (SELECT n_docs FROM n)) / (1.0 + doc_freq)) + 1.0, 6) AS idf
    FROM df
    """,
    tags=("text", "tfidf"),
)
def term_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 IDF as a DataFrame aggregate: ``ln((N+1)/(df+1)) + 1`` (smoothed,
    pinned; the reference's unsmoothed hand variant documented as a delta)."""
    toks = document_tokens(spark, sf_dir)
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    return (df.crossJoin(F.broadcast(n))
            .select("token", "doc_freq",
                    F.round(F.log((F.lit(1.0) + F.col("n_docs")) /
                                  (F.lit(1.0) + F.col("doc_freq"))) + F.lit(1.0), 6)
                     .alias("idf")))


# --- M6/M7: term frequency, length-normalized -------------------------------

@register(
    "term_frequency",
    oracle=f"""
    WITH {_TOKS_CTE},
    cnts AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
    lens AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY doc_id)
    SELECT c.doc_id, c.token, c.cnt, c.cnt / l.doc_len AS tf
    FROM cnts c JOIN lens l ON c.doc_id = l.doc_id
    """,
    tags=("text", "tfidf"),
)
def term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 raw counts + M7 normalization ``tf = count/len(tokens)``
    (``TF-IDF_K-Means_approach.ipynb:5514-5527``) as sparse (doc, term) rows.
    Zero-token docs were already dropped upstream, so the reference's
    divide-by-zero guard is structurally unnecessary."""
    toks = document_tokens(spark, sf_dir)
    cnts = toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    return (cnts.join(lens, "doc_id")
            .select("doc_id", "token", "cnt",
                    (F.col("cnt") / F.col("doc_len")).alias("tf")))


# --- M9/M10: tf*idf, L2-normalized, top-k terms per doc ---------------------

@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE},
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY token),
    idf AS (SELECT token,
                   LN((1.0 + (SELECT n_docs FROM n)) / (1.0 + doc_freq)) + 1.0 AS idf
            FROM df),
    cnts AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
    lens AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY doc_id),
    tfidf AS (SELECT c.doc_id, c.token, (c.cnt / l.doc_len) * i.idf AS w
              FROM cnts c JOIN lens l ON c.doc_id = l.doc_id
              JOIN idf i ON c.token = i.token),
    normed AS (SELECT doc_id, token,
                      w / SQRT(CAST(CAST(SUM(CAST(w * w AS DECIMAL(27,18)))
                               OVER (PARTITION BY doc_id) AS VARCHAR) AS DOUBLE)) AS score
               FROM tfidf),
    ranked AS (SELECT doc_id, token, score,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, token) AS rn
               FROM normed)
    SELECT doc_id, token, ROUND(score, 6) AS score,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
    tags=("text", "tfidf", "window"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 tf*idf product + M9 L2 normalization, reported as top-5 terms per
    document (rank by score desc, token asc). The per-doc L2 norm is a
    window sum over DECIMAL-cast squares so both engines produce
    bit-identical norms (see functions/numeric.py rationale)."""
    # ONE aggregation of the exploded token stream into sparse (doc, term,
    # cnt) rows; everything else (doc lengths, document frequencies, n_docs)
    # derives from that far smaller aggregate — round 1 scanned the exploded
    # stream three more times (incl. a two-phase countDistinct per token)
    toks = document_tokens(spark, sf_dir)
    # consumer-scoped cache: the returned plan references cnts three ways
    # (idf, n_docs, the window stack) and AQE cannot exchange-dedupe them
    # (measured 6 parquet scans uncached); the consumer releases via
    # registry.release_consumer_caches()
    from ..plans.registry import retain_for_consumer
    cnts = retain_for_consumer(
        toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt")))
    n = cnts.agg(F.countDistinct("doc_id").alias("n_docs"))
    # cnts is unique per (doc, token), so doc_freq is a plain count
    idf = (cnts.groupBy("token").agg(F.count("*").alias("doc_freq"))
           .crossJoin(F.broadcast(n))
           .select("token",
                   (F.log((F.lit(1.0) + F.col("n_docs")) /
                          (F.lit(1.0) + F.col("doc_freq"))) + F.lit(1.0)).alias("idf")))
    # doc_len / norm / rank all window over doc_id — Catalyst reuses one
    # exchange+sort for the stack instead of a groupBy+join per derived value
    wdoc = Window.partitionBy("doc_id")
    tfidf = (cnts.withColumn("doc_len", F.sum("cnt").over(wdoc))
             .join(F.broadcast(idf), "token")
             .select("doc_id", "token",
                     ((F.col("cnt") / F.col("doc_len")) * F.col("idf")).alias("w")))
    norm = F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(27,18)"))
                  .over(wdoc).cast("string").cast("double"))
    normed = tfidf.select("doc_id", "token", (F.col("w") / norm).alias("score"))
    wrank = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (normed.withColumn("rn", F.row_number().over(wrank).cast("long"))
                  .where(F.col("rn") <= 5)
                  .select("doc_id", "token", F.round("score", 6).alias("score"), "rn"))


# --- M9 as a pyspark.ml pipeline (the scale/model path) ---------------------

def build_tfidf_pipeline(input_col: str = "text",
                         min_df: float = 0.02,
                         max_df: float = 0.8,
                         vocab_size: int = 1 << 18) -> Pipeline:
    """The M9 ``TfidfVectorizer`` hyperparameters
    (``TF-IDF_K-Means_approach.ipynb:7707-7711``: max_df=0.8, min_df=0.02,
    stop_words='english', smooth_idf, norm='l2') as ml stages. Note the MLlib
    IDF formula is ``ln((N+1)/(df+1))`` without sklearn's trailing +1 —
    direction-preserving after L2 normalization for clustering purposes
    (documented delta, SURVEY.md M8/M9)."""
    tok = RegexTokenizer(inputCol=input_col, outputCol="_tokens",
                         pattern=r"\s+", toLowercase=True)
    stop = StopWordsRemover(inputCol="_tokens", outputCol="_kept")
    cv = CountVectorizer(inputCol="_kept", outputCol="_tf",
                         minDF=min_df, maxDF=max_df, vocabSize=vocab_size)
    idf = IDF(inputCol="_tf", outputCol="_tfidf")
    l2 = Normalizer(inputCol="_tfidf", outputCol="features", p=2.0)
    return Pipeline(stages=[tok, stop, cv, idf, l2])


def fit_tfidf(docs: DataFrame, cache_key=None, **kw):
    """Fit the pipeline on non-empty docs (P6 upstream filter) and return
    (model, transformed-with-features). ``cache_key`` (the corpus key,
    normally sf_dir) opts into the session model registry
    (operators/model_cache) — one fit per (key, hyperparameters) while
    bench enables it; tests/driver runs always fit fresh.

    The fit is staged by hand instead of ``Pipeline.fit`` so the TOKENIZED
    corpus is materialized ONCE: a monolithic pipeline fit re-runs the
    tokenize+stopword lineage for the CountVectorizer fit, the IDF fit, and
    the final transform (3 passes over the text). Caching the post-stopword
    frame collapses those to one tokenization pass — at 100 TB this cache is
    a ``persist(DISK_ONLY)`` over the (doc_id, tokens) projection, still far
    cheaper than re-tokenizing the corpus per stage. The returned
    PipelineModel is identical to what Pipeline.fit would produce.

    Cache hygiene: BOTH scratch caches (``kept`` and ``tf``) are released
    before returning — they exist for the eager cv/idf FITS only. The
    returned ``feats`` recomputes its one-pass lineage when the caller
    materializes; iterative consumers (MLlib KMeans/Word2Vec) persist
    their own training input internally (handlePersistence), so retaining
    ``tf`` here would only accumulate corpus-sized blocks per fit in a
    long-lived session (the registry-wide persistent-RDD gate in
    tests/test_oracle_parity.py enforces this)."""
    from pyspark.ml import PipelineModel

    from .model_cache import memo

    def build():
        clean = docs.where(F.length(F.trim("text")) > 0)
        tok, stop, cv, idf, l2 = build_tfidf_pipeline(**kw).getStages()
        kept = stop.transform(tok.transform(clean)).cache()
        cvm = cv.fit(kept)
        tf = cvm.transform(kept).cache()
        idfm = idf.fit(tf)
        model = PipelineModel(stages=[tok, stop, cvm, idfm, l2])
        feats = l2.transform(idfm.transform(tf))
        kept.unpersist()
        tf.unpersist()
        return model, feats

    key = None if cache_key is None else (
        "tfidf", cache_key, tuple(sorted(kw.items())))
    return memo(key, build)


@register("tfidf_pipeline_features", oracle=None, tags=("text", "tfidf", "ml"))
def tfidf_pipeline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 ml-pipeline output surface (rows-only: model-backed): per doc the
    number of active tf-idf features and the vector norm (==1 after
    Normalizer; asserted in tests)."""
    docs = table(spark, sf_dir, "documents")
    _, out = fit_tfidf(docs, cache_key=sf_dir)

    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("features")
    nz = F.size(F.filter(arr, lambda x: x != 0.0)).cast("long")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    return out.select("doc_id", nz.alias("n_active"),
                      F.round(norm, 9).alias("l2_norm"))


# --- M11: LSA / dimensionality reduction ------------------------------------

def fit_lsa(features_df: DataFrame, k: int = 10, input_col: str = "features"):
    """M11 TruncatedSVD(25)+Normalizer (``TF-IDF_K-Means_approach.ipynb:
    7840-7844``) re-expressed as ml.feature.PCA + L2 re-normalization
    (SURVEY.md section 7: PCA is the DataFrame-native reduction; downstream
    is clustering, which only needs the subspace, not the exact SVD basis).
    k defaults to 10 here because the fixture vocabulary is ~30 terms; the
    reference's k=25 applies at its 135-feature scale."""
    from pyspark.ml.feature import PCA
    pca = PCA(k=k, inputCol=input_col, outputCol="_pca")
    l2 = Normalizer(inputCol="_pca", outputCol="lsa_features", p=2.0)
    pipe = Pipeline(stages=[pca, l2])
    model = pipe.fit(features_df)
    return model, model.transform(features_df)


@register("lsa_features", oracle=None, tags=("text", "tfidf", "ml"))
def lsa_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 surface (rows-only): doc_id + LSA vector dim + its L2 norm."""
    docs = table(spark, sf_dir, "documents")
    _, feats = fit_tfidf(docs, cache_key=sf_dir)
    _, reduced = fit_lsa(feats)

    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("lsa_features")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    return reduced.select("doc_id", F.size(arr).cast("long").alias("dim"),
                          F.round(norm, 6).alias("l2_norm"))


# --- M11 proper: truncated SVD (no mean-centering) ---------------------------

#: gram-tier cutoff: d x d partials are <= 32 MB at 2048 dims — the same
#: broadcast/aggregate budget class as a join build side. Above it, the
#: ARPACK computeSVD bridge below is the path (and at web-scale vocab a
#: randomized SVD would be the next tier).
GRAM_SVD_MAX_DIM = 2048


#: rows per gram chunk: one (chunk x d)^T (chunk x d) BLAS product each.
#: Part of G's summation order, so changing it changes G's low bits.
_GRAM_CHUNK = 1024


def _gram(arr_df: DataFrame, d: int):
    """G = X^T X over the ``x`` (array<double>, length d) column: per
    partition, a sum of ``_GRAM_CHUNK``-row ``X^T X`` products started from
    zeros, then the per-partition partials folded on the driver in
    partition order. Runs as ``mapInPandas`` over the ``vector_to_array``
    frame the projection reads too; the ``rdd.mapPartitions`` +
    ``treeReduce`` form this replaces had its Python worker re-import
    ``pyspark.ml`` and pandas on every op (0.9-1.3 s, on flow A's critical
    path). The summation order is the one that ``treeReduce`` had below
    its tree threshold (8 partitions), so G is bit-identical to it
    there."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    def part_gram(batches):
        G = np.zeros((d, d))
        chunk: list = []
        for pdf in batches:
            for x in pdf["x"]:
                chunk.append(x)
                if len(chunk) == _GRAM_CHUNK:
                    X = np.asarray(chunk)
                    G += X.T @ X
                    chunk = []
        if chunk:
            X = np.asarray(chunk)
            G += X.T @ X
        yield pd.DataFrame({"pid": [TaskContext.get().partitionId()],
                            "g": [G.tobytes()]})

    parts = (arr_df.select("x")
             .mapInPandas(part_gram, "pid int, g binary").collect())
    G = None
    for r in sorted(parts, key=lambda r: r.pid):
        g = np.frombuffer(r.g).reshape(d, d)
        G = g.copy() if G is None else G + g
    return G


def _gram_svd(features_df: DataFrame, k: int, id_col: str, input_col: str,
              d: int):
    """Exact truncated SVD for BOUNDED feature dims via the gram matrix:
    G = X^T X accumulated per partition over the dense ``x`` projection
    (``_gram``: one BLAS product per 1,024-row chunk, d x d partials
    folded on the driver), eigendecomposed on the driver
    (X^T X = V S^2 V^T), rows projected distributedly as X.V_k. Both the
    gram pass and the projection read the same ``vector_to_array`` frame
    through ``mapInPandas``: no RDD-of-rows bridge, no per-row Python in
    the aggregate beyond the chunk gather. Explained variance falls out
    for free: sum(top-k eigenvalues) / trace(G) — trace(G) IS ||X||_F^2,
    so the separate Frobenius pass disappears too. Same subspace as
    computeSVD up to component sign (both inherit eigenvector sign
    indeterminacy; downstream is L2-normalized clustering)."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.functions import vector_to_array

    from ..plans.registry import retain_for_consumer

    sc = features_df.sparkSession.sparkContext
    # consumer-scoped cache of the narrow (id, vector) projection: the
    # gram pass and the final projection pass both read it — uncached,
    # each re-paid the full tokenize+cv+idf transform lineage (guide §5.1)
    proj = retain_for_consumer(features_df.select(id_col, input_col))
    arr_df = proj.select(id_col, vector_to_array(input_col).alias("x"))

    G = _gram(arr_df, d)
    evals, evecs = np.linalg.eigh(G)
    order = np.argsort(evals)[::-1][:k]
    lam = np.clip(evals[order], 0.0, None)
    V = np.ascontiguousarray(evecs[:, order])
    explained = float(lam.sum()) / max(float(np.trace(G)), 1e-300)

    bV = sc.broadcast(V)

    def project(batches):
        Vk = bV.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["x"].to_list())
            P = X @ Vk
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "lsa_svd": [r.tolist() for r in P]})

    reduced = arr_df.mapInPandas(project, f"{id_col} long, lsa_svd array<double>")
    return reduced, explained


def fit_lsa_svd(features_df: DataFrame, k: int, id_col: str = "doc_id",
                input_col: str = "features", dim: int | None = None):
    """M11 as a REAL truncated SVD — the reference's ``TruncatedSVD(25)``
    (``TF-IDF_K-Means_approach.ipynb:7840-7844``), via the
    ``IndexedRowMatrix.computeSVD`` bridge (SURVEY.md section 7 step 6).

    Unlike the ``fit_lsa`` PCA stand-in, this does NOT mean-center: centering
    a sparse tf-idf matrix densifies it (every zero becomes -mean), which is
    exactly what kills PCA at corpus scale; truncated SVD factors the sparse
    matrix as-is. Row identity rides the IndexedRow index, so doc_ids stay
    aligned without positional zips.

    Returns ``(reduced_df, explained_variance)`` where reduced_df has
    (id_col, lsa_svd: array<double> of length k) with rows U*diag(s) = X.V,
    and explained_variance is the Frobenius energy ratio
    ``sum(s_i^2) / ||X||_F^2`` — the uncentered analogue of sklearn's
    explained-variance ratio (the notebook's 83%-at-k=25 anchor; asserted on
    a reference-shaped fixture in tests/test_tfidf.py).

    ``dim`` (when the caller already knows the feature dimension, e.g.
    from the CountVectorizer vocabulary that built the features) skips
    the one-row probe action the fit otherwise pays to learn it.
    """
    from pyspark.mllib.linalg import Vectors as OldVectors
    from pyspark.mllib.linalg.distributed import IndexedRow, IndexedRowMatrix

    spark = features_df.sparkSession
    d = dim if dim is not None else (
        features_df.select(input_col).first()[0].size)
    if k <= d <= GRAM_SVD_MAX_DIM:
        # bounded-dim fast tier: gram eigendecomposition (see _gram_svd) —
        # measured 10.6 s -> ~1 s at sf0.1 vs the IndexedRowMatrix bridge
        return _gram_svd(features_df, k, id_col, input_col, d)
    rows = (features_df.select(id_col, input_col).rdd
            .map(lambda r: IndexedRow(int(r[0]), OldVectors.fromML(r[1]))))
    svd = IndexedRowMatrix(rows).computeSVD(k, computeU=True)
    s = svd.s.toArray().tolist()

    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array(input_col)
    frob2 = (features_df
             .select(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)
                     .alias("r2"))
             .agg(F.sum("r2")).first()[0])
    explained = float(sum(v * v for v in s)) / max(float(frob2), 1e-300)

    reduced = spark.createDataFrame(
        svd.U.rows.map(lambda r: (int(r.index),
                                  [float(u * sv) for u, sv
                                   in zip(r.vector.toArray(), s)])),
        f"{id_col} long, lsa_svd array<double>")
    return reduced, explained


@register("lsa_svd_features", oracle=None, tags=("text", "tfidf", "ml"))
def lsa_svd_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 truncated-SVD surface (rows-only): per doc the k-dim SVD
    projection's dim and L2 norm, plus the fit's explained-variance energy
    ratio (constant column — one fit, reported in-row so the driver check
    sees it)."""
    docs = table(spark, sf_dir, "documents")
    model, feats = fit_tfidf(docs, cache_key=sf_dir)
    # the fitted CountVectorizer already holds the vocabulary driver-side,
    # so the feature dim is free — no one-row probe action inside the fit
    reduced, explained = fit_lsa_svd(
        feats, k=10, dim=len(model.stages[2].vocabulary))
    norm = F.sqrt(F.aggregate("lsa_svd", F.lit(0.0), lambda a, x: a + x * x))
    return reduced.select(
        "doc_id", F.size("lsa_svd").cast("long").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.lit(explained), 6).alias("explained_variance"))


# --- M11 web-scale tier: randomized truncated SVD -----------------------------

#: oversampling for the randomized range finder (Halko/Martinsson/Tropp
#: "Finding structure with randomness", SIAM Rev. 2011: p in [5, 10] gives
#: subspace capture within O(1/sqrt(p)) of optimal for decaying spectra).
RSVD_OVERSAMPLE = 8
RSVD_SEED = 42

#: flush the sparse accumulation block when it holds this many nonzeros:
#: peak per-flush memory is O(nnz * l) for the expanded contribution
#: matrix (262144 * 33 * 8 B ~ 69 MB at k=25), INDEPENDENT of the vocab
#: dimension d — the dense 1024 x d block this replaces was ~8 GB at the
#: web-scale vocab (d ~ 1e6) the tier exists for.
RSVD_FLUSH_NNZ = 262_144
#: subspace-iteration steps (q): 0 suffices for fast-decaying spectra; 1
#: recovers flat topic blocks (see fit_lsa_rsvd docstring). Each step is
#: one extra fused pass over X.
RSVD_POWER_ITERS = 1


def fit_lsa_rsvd(features_df: DataFrame, k: int, id_col: str = "doc_id",
                 input_col: str = "features", seed: int = RSVD_SEED,
                 dim: int | None = None):
    """M11's beyond-gram tier: RANDOMIZED truncated SVD (the successor
    SCALE.md's M11 section names for web-scale vocabularies, where the
    gram tier's d x d partials blow the executor budget past
    GRAM_SVD_MAX_DIM).

    Each fused pass over X accumulates, per partition, for a projection
    block Omega (d x l; the first pass draws it as seeded Gaussian,
    l = k + oversample), with Y = X @ Omega:
      - G_Y = Y^T Y           (l x l)   range-finder gram
      - T   = X^T Y = X^T X Omega (d x l)  projected covariance
      - ||X||_F^2             (scalar)  for the energy ratio
    POWER ITERATION comes free in this formulation: T = G Omega is
    already (X^T X) applied to the block, so feeding T back in as the
    next pass's Omega is one subspace-iteration step — RSVD_POWER_ITERS=1
    sharpens flat spectra (equal-strength topic blocks) where the plain
    q=0 range finder leaks noise energy (measured on the planted fixture:
    0.74 captured at q=0 vs 0.87 exact; q=1 closes it, see
    tests/test_tfidf.py). Columns are re-orthonormalized between passes
    (QR on the d x l block, driver-side) so repeated G applications don't
    collapse onto the dominant direction.

    Driver-side linear algebra is l- and (d x l)-sized only: symmetric
    orthogonalization W = G_Y^(-1/2) (eigh — no Cholesky failure on a
    rank-deficient draw), the small eigenproblem W T^T T W =
    U_b S^2 U_b^T, and V_k = T W U_b[:, :k] / s_k. A final distributed
    pass projects X @ V_k (broadcast d x k, Arrow batches).

    Memory: executors and driver hold O(d*l) (vs the gram tier's O(d^2))
    — at vocab 1M, k=25, that is ~260 MB vs 8 TB; beyond ~10M vocab the
    treeReduce of T should become a term-keyed DataFrame aggregate, the
    only remaining driver-bound piece. The streaming accumulation is
    SPARSE end-to-end (CSR-style flush blocks capped at RSVD_FLUSH_NNZ
    nonzeros -> O(nnz*l) peak, and the final projection gathers V rows
    at each vector's nonzeros) — no step materializes a rows x d dense
    block, which at d=1e6 was ~8 GB per 1024-row flush. Cost: (2 + power_iters) passes
    over X. tests/test_tfidf.py pins the captured energy against the
    exact tier and determinism under the fixed seed.

    Returns (reduced_df(id_col, lsa_rsvd array<double>), explained).

    ``dim`` (when the caller already knows the feature dimension) skips
    the one-row probe action. The narrow (id, vector) projection is
    consumer-scope cached: the (2 + power_iters) accumulation passes and
    the final projection pass all read it — uncached, EVERY pass re-paid
    the full upstream transform lineage (guide §5.1). Partitioning is
    untouched, so per-partition float-summation order — and therefore the
    output — is byte-identical to the uncached form."""
    import numpy as np

    from ..plans.registry import retain_for_consumer

    sc = features_df.sparkSession.sparkContext
    d = dim if dim is not None else (
        features_df.select(input_col).first()[0].size)
    l = min(k + RSVD_OVERSAMPLE, d)
    rows = retain_for_consumer(features_df.select(id_col, input_col)).rdd

    def one_pass(bOm):
        """Accumulate (G_Y, T, ||X||_F^2) for Omega = bOm.value.

        SPARSE accumulation (the rows are ~99% sparse TF-IDF vectors):
        each flush block is CSR-style flat (data, indices, indptr) capped
        at RSVD_FLUSH_NNZ nonzeros, so peak block memory is O(nnz * l) —
        never the O(rows * d) dense block that would be ~8 GB per flush
        at vocab 1e6. numpy-only kernels (no scipy in the runtime):
        Y = X @ Om via add.reduceat over the row-sorted contribution
        matrix; T += X^T Y via one bincount per projection column."""
        def part_stats(it):
            Om = bOm.value
            GY = np.zeros((l, l))
            T = np.zeros((d, l))
            frob2 = 0.0
            dat: list = []
            idx: list = []
            indptr = [0]
            nnz = 0

            def flush(GY, T, frob2):
                fd = (np.concatenate(dat) if dat
                      else np.empty(0, dtype=np.float64))
                fi = (np.concatenate(idx) if idx
                      else np.empty(0, dtype=np.int64))
                ip = np.asarray(indptr, dtype=np.int64)
                n = len(ip) - 1
                row_of = np.repeat(np.arange(n), np.diff(ip))
                # Y[i] = x_i @ Om — contributions are row-sorted by
                # construction, so reduceat over the NON-EMPTY row starts
                # sums each such row's slice exactly (starts are strictly
                # increasing and all < len(fd), so the final slice runs to
                # the end; clipping out-of-range starts instead would steal
                # the last element from the preceding row when the block
                # ends with empty vectors). Empty rows stay zero.
                contrib = fd[:, None] * Om[fi]
                Y = np.zeros((n, l))
                if len(fd):
                    nz_rows = np.diff(ip) > 0
                    Y[nz_rows] = np.add.reduceat(contrib, ip[:-1][nz_rows])
                GY += Y.T @ Y
                # T += X^T Y: scatter-add per projection column (bincount
                # is the fast C path; np.add.at is ~10x slower)
                YR = Y[row_of]
                for j in range(l):
                    T[:, j] += np.bincount(fi, weights=fd * YR[:, j],
                                           minlength=d)
                return GY, T, frob2 + float((fd * fd).sum())

            for r in it:
                v = r[1]
                if hasattr(v, "indices"):       # SparseVector
                    vi = np.asarray(v.indices, dtype=np.int64)
                    vd = np.asarray(v.values, dtype=np.float64)
                else:                            # DenseVector fallback
                    a = v.toArray()
                    vi = np.nonzero(a)[0].astype(np.int64)
                    vd = a[vi]
                idx.append(vi)
                dat.append(vd)
                nnz += len(vi)
                indptr.append(nnz)
                if nnz >= RSVD_FLUSH_NNZ:
                    GY, T, frob2 = flush(GY, T, frob2)
                    dat, idx, indptr, nnz = [], [], [0], 0
            if len(indptr) > 1:
                GY, T, frob2 = flush(GY, T, frob2)
            yield GY, T, frob2

        return rows.mapPartitions(part_stats).treeReduce(
            lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]))

    Om = np.random.default_rng(seed).standard_normal((d, l))
    for _ in range(RSVD_POWER_ITERS + 1):
        bOm = sc.broadcast(np.ascontiguousarray(Om))
        GY, T, frob2 = one_pass(bOm)
        bOm.destroy()
        # next block = orthonormalized G @ Om (no-op after the last pass;
        # the small SVD below consumes GY/T of the FINAL block)
        Om, _ = np.linalg.qr(T)

    # W = G_Y^(-1/2) via eigh, clipping the null directions of a
    # rank-deficient random draw instead of failing a Cholesky
    ew, EV = np.linalg.eigh(GY)
    keep = ew > max(ew.max(), 0.0) * 1e-12
    W = EV[:, keep] @ np.diag(ew[keep] ** -0.5) @ EV[:, keep].T
    M = W @ (T.T @ T) @ W
    mw, U_b = np.linalg.eigh(M)
    order = np.argsort(mw)[::-1][:k]
    s2 = np.clip(mw[order], 0.0, None)         # singular values^2 of X|range
    s = np.sqrt(np.clip(s2, 1e-300, None))
    V = T @ W @ U_b[:, order] / s              # d x k, right singular vecs
    explained = float(s2.sum()) / max(float(frob2), 1e-300)

    bV = sc.broadcast(np.ascontiguousarray(V))

    def project_part(it):
        """Sparse projection P[i] = x_i @ V_k: per-row gather of V's rows
        at the vector's nonzero indices (O(nnz * k) per row) — the same
        no-densify discipline as the accumulation passes."""
        Vk = bV.value
        for r in it:
            v = r[1]
            if hasattr(v, "indices"):
                p = np.asarray(v.values, dtype=np.float64) @ Vk[
                    np.asarray(v.indices, dtype=np.int64)]
            else:
                p = v.toArray() @ Vk
            yield int(r[0]), [float(x) for x in p]

    reduced = features_df.sparkSession.createDataFrame(
        rows.mapPartitions(project_part),
        schema=f"{id_col} long, lsa_rsvd array<double>")
    return reduced, explained


@register("lsa_features_rsvd", oracle=None, tags=("text", "tfidf", "ml"))
def lsa_features_rsvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 randomized-SVD surface (rows-only): per doc the k-dim projection
    dim + L2 norm, plus the captured-energy ratio as a constant column —
    same shape as ``lsa_svd_features`` so the two tiers are directly
    comparable row-for-row."""
    docs = table(spark, sf_dir, "documents")
    model, feats = fit_tfidf(docs, cache_key=sf_dir)
    reduced, explained = fit_lsa_rsvd(
        feats, k=10, dim=len(model.stages[2].vocabulary))
    norm = F.sqrt(F.aggregate("lsa_rsvd", F.lit(0.0), lambda a, x: a + x * x))
    return reduced.select(
        "doc_id", F.size("lsa_rsvd").cast("long").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.lit(explained), 6).alias("explained_variance"))
