"""End-to-end pipeline invariants (the reference's flagship flows) plus the
S5/S6 listing utilities."""

from __future__ import annotations

import pytest

from fts_errors_clustering_spark.operators.pipelines import (
    list_catalog_tables, list_files, pipeline_tfidf_kmeans,
    pipeline_word2vec_dbscan)

from .conftest import SF_SMALL


def test_tfidf_kmeans_pipeline(spark):
    row = pipeline_tfidf_kmeans(spark, SF_SMALL).collect()[0]
    assert 1 <= row.n_clusters <= 10
    for m in ("homogeneity", "completeness", "v_measure"):
        assert 0.0 <= getattr(row, m) <= 1.0, (m, row)
    assert -1.0 <= row.ari <= 1.0


def test_word2vec_dbscan_pipeline(spark):
    rows = pipeline_word2vec_dbscan(spark, SF_SMALL).collect()
    total = sum(r.n_docs for r in rows)
    assert total == 500  # row-count stability end to end (2.9.1 regression)
    clusters = {r.cluster for r in rows}
    assert all(c == -1 or c >= 0 for c in clusters)
    for r in rows:
        if r.n_docs > 1:
            assert 0.0 <= r.mean_similarity <= 100.0


def test_word2vec_dbscan_fuzz_stage_spread(spark, monkeypatch):
    """Flow B's fuzz_ratio stage must run on every core: the sf0.001
    documents scan is one partition, so left alone the whole levenshtein
    stage is one task. The rows must be the same either way, and
    ``spread`` must leave an input that has enough partitions alone."""
    from fts_errors_clustering_spark.cli import _canon
    from fts_errors_clustering_spark.operators import pairwise
    from fts_errors_clustering_spark.plans.registry import \
        release_consumer_caches

    sc = spark.sparkContext
    par = sc.defaultParallelism

    def run(group):
        df = pipeline_word2vec_dbscan(spark, SF_SMALL)
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        release_consumer_caches()
        # the fuzz stage is the collect's CPU-heaviest stage (the
        # levenshtein over every doc); the status store has its task count.
        # A store at its retainedStages cap evicts skipped stages first,
        # so a job can list a stage the store no longer holds; such a
        # stage ran no task and is passed over
        st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        stages = [store.lastStageAttempt(sid)
                  for jid in st.getJobIdsForGroup(group)
                  for sid in st.getJobInfo(jid).stageIds
                  if st.getStageInfo(sid) is not None]
        fuzz = max(stages, key=lambda d: d.executorCpuTime())
        return _canon(df.columns, rows), fuzz.numCompleteTasks()

    spread_rows, spread_tasks = run("fuzz-spread")
    n_docs = 500  # sf0.001 documents, none blank
    assert spread_tasks >= min(par, n_docs)
    with monkeypatch.context() as m:
        m.setattr(pairwise, "spread", lambda df, target: df)
        one_rows, one_tasks = run("fuzz-one")
    assert one_tasks == 1
    assert one_rows == spread_rows

    wide = spark.range(0, 100, 1, par)
    assert pairwise.spread(wide, par) is wide
    assert pairwise.spread(wide, 2) is wide
    narrow = wide.coalesce(1)
    assert pairwise.spread(narrow, par).rdd.getNumPartitions() == par


def test_knee_epsilon_matches_collect_form(spark):
    """``knee_epsilon_value`` must give the epsilon of the plain Python
    argmax over the sorted curve (the reference's collect form,
    ``word2vec_dbscan_approach.ipynb:191-198``) on the sf0.001 kNN means."""
    from fts_errors_clustering_spark.operators.knn import (
        knee_epsilon_value, knn_mean_distances)
    knn = knn_mean_distances(spark, SF_SMALL).cache()
    eps = knee_epsilon_value(knn, id_col="vec_id")
    curve = sorted(r.mean_dist for r in knn.collect())
    lo, hi = curve[0], curve[-1]
    knee = max(range(len(curve)),
               key=lambda i: i / (len(curve) - 1) - (curve[i] - lo) / (hi - lo))
    assert eps == curve[knee]


@pytest.mark.parametrize("curve, eps", [
    ([(i, 2.5) for i in range(10)], 2.5),
    ([(7, 1.0), (3, 4.0)], 1.0),
    ([(5, 1.0), (2, 1.0), (9, 1.0), (1, 3.0), (4, 3.5), (0, 5.0)], 1.0),
    ([(8, 9.0), (1, 0.5), (6, 2.0), (3, 1.0), (0, 8.5), (2, 1.5), (7, 3.0)],
     3.0),
], ids=["flat", "two_points", "tied", "unordered"])
def test_knee_epsilon_flat_curve(spark, curve, eps):
    """Small and degenerate curves: a flat curve (ymax == ymin) divides by
    nothing and its knee is the constant value itself; a 2-point curve, a
    curve whose tied means are ordered by id, and rows not in curve order
    give the epsilon the distributed knee this replaced gave."""
    from fts_errors_clustering_spark.operators.knn import knee_epsilon_value
    knn = spark.createDataFrame(curve, "vec_id long, mean_dist double")
    assert knee_epsilon_value(knn) == eps


def test_knee_sweep_matches_sql_on_multi_knee_curve(spark):
    """The driver sweep must equal the committed sweep SQL (the oracle's
    curve and difference CTEs, then ``_SWEEP_TAIL_SQL``) run by DuckDB over
    the same curve, on a curve where S picks three different knees: the
    local max at idx 3 (S = 1), the one at idx 10 (S = 3, 5) and the
    argmax fallback (S >= 10). Rows arrive out of curve order, and the
    tied means at idx 11-12 are ordered by id."""
    import duckdb
    import numpy as np
    import pandas as pd

    from fts_errors_clustering_spark.cli import _canon
    from fts_errors_clustering_spark.operators.knn import _KNN_CTE, knee_sweep
    from fts_errors_clustering_spark.plans.registry import all_queries

    steps = [0.1] * 3 + [1.5] + [0.1] * 6 + [4.0, 0.0] + [0.1] * 11 + [6.0]
    y = 1.0 + np.concatenate(([0.0], np.cumsum(steps)))
    ids = np.random.default_rng(7).permutation(len(y))
    curve = pd.DataFrame({"vec_id": ids, "mean_dist": y}).sample(
        frac=1.0, random_state=3)
    got = knee_sweep(spark.createDataFrame(curve))
    oracle = all_queries()["knn_knee_sweep"].oracle
    sql = oracle.replace(f"{_KNN_CTE},", "")
    assert sql != oracle
    con = duckdb.connect()
    con.register("knn", curve)
    res = con.execute(sql)
    want = _canon([c[0] for c in res.description], res.fetchall())
    con.close()
    assert _canon(got.columns, got.collect()) == want
    knees = {r.sensitivity: r.knee_idx for r in got.collect()}
    assert (knees[1], knees[3], knees[5], knees[10]) == (3, 10, 10, 23)


def test_list_files_and_catalog(spark):
    files = list_files(spark, SF_SMALL)
    assert any(f.endswith("events.parquet") for f in files)
    spark.range(1).createOrReplaceTempView("t_listing_probe")
    assert "t_listing_probe" in list_catalog_tables(spark)
