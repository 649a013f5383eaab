"""DBSCAN property tests (SURVEY.md section 5): agreement with an
independent brute-force implementation, semantics of core/border/noise,
and eps-monotonicity. sklearn is not available here, so the reference
implementation is a small numpy union-find with the SAME deterministic
semantics (min-member-id labels, min-label border adoption)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fts_errors_clustering_spark.operators.dbscan import (EPS, MIN_PTS,
                                                          dbscan_labels)
from fts_errors_clustering_spark.sources.readers import table

from .conftest import SF_SMALL


def numpy_dbscan(X: np.ndarray, ids: np.ndarray, eps: float, min_pts: int):
    """Brute-force DBSCAN with min-member-id cluster labels."""
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    nb = d2 <= eps * eps  # includes self (diagonal 0)
    core = nb.sum(1) >= min_pts
    n = len(X)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i, j):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)

    for i in range(n):
        if not core[i]:
            continue
        for j in range(i + 1, n):
            if core[j] and nb[i, j]:
                union(i, j)

    labels = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if core[i]:
            comp = [j for j in range(n) if core[j] and find(j) == find(i)]
            labels[i] = ids[comp].min()
    for i in range(n):
        if not core[i]:
            cn = [j for j in range(n) if core[j] and nb[i, j]]
            if cn:
                labels[i] = labels[cn].min()
    return labels


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = (table(spark, SF_SMALL, "embeddings")
            .select("vec_id", "embedding").orderBy("vec_id").collect())
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def test_matches_bruteforce(spark, emb_np):
    ids, X = emb_np
    expect = numpy_dbscan(X, ids, EPS, MIN_PTS)
    got_rows = dbscan_labels(spark, table(spark, SF_SMALL, "embeddings")).collect()
    got = {r.vec_id: r.cluster for r in got_rows}
    mismatches = [(i, got[i], e) for i, e in zip(ids, expect) if got[i] != e]
    assert not mismatches, mismatches[:10]


def test_noise_is_minus_one_and_total(spark):
    labs = dbscan_labels(spark, table(spark, SF_SMALL, "embeddings"))
    rows = labs.collect()
    assert len(rows) == 500
    assert all(r.cluster == -1 or r.cluster >= 0 for r in rows)


def test_eps_monotonicity(spark, emb_np):
    """Larger eps => every pair clustered together stays together (the
    density-connected relation only grows); noise count never increases."""
    emb = table(spark, SF_SMALL, "embeddings")
    small = {r.vec_id: r.cluster
             for r in dbscan_labels(spark, emb, eps=1.15).collect()}
    big = {r.vec_id: r.cluster
           for r in dbscan_labels(spark, emb, eps=1.25).collect()}
    n_noise_small = sum(1 for v in small.values() if v == -1)
    n_noise_big = sum(1 for v in big.values() if v == -1)
    assert n_noise_big <= n_noise_small
    by_cluster: dict[int, list[int]] = {}
    for i, c in small.items():
        if c >= 0:
            by_cluster.setdefault(c, []).append(i)
    for c, members in by_cluster.items():
        big_labels = {big[i] for i in members}
        assert len(big_labels) == 1 and -1 not in big_labels, (c, big_labels)


def test_shuffled_input_same_labels(spark):
    """FIXTURES.md C.3: labels attach by key, so an arbitrarily repartitioned
    input must yield the identical (id -> label) mapping."""
    emb = table(spark, SF_SMALL, "embeddings")
    base = {r.vec_id: r.cluster for r in dbscan_labels(spark, emb).collect()}
    shuffled = emb.repartition(13).sortWithinPartitions(F.desc("label"))
    again = {r.vec_id: r.cluster for r in dbscan_labels(spark, shuffled).collect()}
    assert base == again


def test_kernel_matches_catalyst_pairs(spark):
    """The numpy broadcast kernel and the pure-Catalyst cross-join form must
    emit the identical eps-pair set (operators/pairwise.py exactness
    contract)."""
    from fts_errors_clustering_spark.operators.dbscan import (DIM,
                                                              eps_pairs_exact)
    from fts_errors_clustering_spark.operators.pairwise import (
        eps_pairs_broadcast)
    emb = table(spark, SF_SMALL, "embeddings")
    a = set(map(tuple, eps_pairs_exact(emb, "vec_id", "embedding",
                                       DIM, EPS).collect()))
    b = set(map(tuple, eps_pairs_broadcast(emb, "vec_id", "embedding",
                                           EPS).collect()))
    assert a == b


def test_eps_boundary_margin(emb_np):
    """No fixture pair may sit so close to the eps^2 threshold that float
    summation order could flip its membership (pairwise.py guard-band
    soundness: GEMM error ~1e-12 << observed margin)."""
    ids, X = emb_np
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    off = d2[~np.eye(len(X), dtype=bool)]
    margin = np.abs(off - EPS * EPS).min()
    assert margin > 1e-6


def test_lsh_dbscan_agrees_with_exact(spark):
    """The LSH-candidate DBSCAN (the at-scale pair generator) must agree
    with exact DBSCAN on nearly every point — missed eps-edges can only
    split/relabel a small fraction."""
    from fts_errors_clustering_spark.operators.dbscan import (
        dbscan_labels_lsh, dbscan_labels_query)
    exact = {r.vec_id: r.cluster
             for r in dbscan_labels_query(spark, SF_SMALL).collect()}
    lsh = {r.vec_id: r.cluster
           for r in dbscan_labels_lsh(spark, SF_SMALL).collect()}
    assert exact.keys() == lsh.keys()
    agree = sum(1 for k in exact if exact[k] == lsh[k])
    assert agree / len(exact) >= 0.95


def test_lsh_dbscan_certify_opt_out(spark):
    """certify=False must skip the exact-twin pass (the production-scale
    mode: at 100 TB the exact run is what the LSH tier exists to avoid)
    and say so via NULL certification columns — same schema, no faked
    floor check."""
    from fts_errors_clustering_spark.operators.dbscan import dbscan_labels_lsh
    rows = dbscan_labels_lsh(spark, SF_SMALL, certify=False).collect()
    assert rows
    assert all(r.agreement_vs_exact is None and r.meets_floor is None
               for r in rows)


def test_all_tiers_agree(spark):
    """The driver-kernel tier (default at fixture scale), the Arrow-pairs +
    numpy small-graph tier, and the fully distributed pointer-halving tier
    must produce the identical (id -> label) mapping — forcing
    driver_kernel_rows=0 / small_graph_edges=0 routes every stage through
    the at-scale plans, keeping them regression-gated even though fixtures
    are driver-sized."""
    emb = table(spark, SF_SMALL, "embeddings")
    kern = {r.vec_id: r.cluster for r in dbscan_labels(spark, emb).collect()}
    arrow = {r.vec_id: r.cluster
             for r in dbscan_labels(spark, emb,
                                    driver_kernel_rows=0).collect()}
    dist = {r.vec_id: r.cluster
            for r in dbscan_labels(spark, emb, driver_kernel_rows=0,
                                   small_graph_edges=0).collect()}
    assert kern == arrow == dist
    # and at a min_pts edge case (every point core)
    s1 = {r.vec_id: r.cluster
          for r in dbscan_labels(spark, emb, min_pts=1).collect()}
    d1 = {r.vec_id: r.cluster
          for r in dbscan_labels(spark, emb, min_pts=1, driver_kernel_rows=0,
                                 small_graph_edges=0).collect()}
    assert s1 == d1


def test_distributed_tier_chain_graph(spark):
    """Worst-case diameter: a 200-point 1-D chain (each point eps-reaches
    only its neighbors) forced through the fully distributed tier. The
    pointer-halving loop must label the whole chain one cluster within the
    O(log n) round budget — the property that keeps chain-shaped clusters
    from serializing at scale (fixture blobs never exercise it)."""
    import pandas as pd

    n = 200
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [[float(i)] + [0.0] * 63 for i in range(n)],
    })
    emb = spark.createDataFrame(pdf)
    labels = {r.vec_id: r.cluster
              for r in dbscan_labels(spark, emb, dim=64, eps=1.5, min_pts=2,
                                     driver_kernel_rows=0,
                                     small_graph_edges=0,
                                     max_iter=12).collect()}
    assert set(labels.values()) == {0}          # one chain-wide cluster
    assert len(labels) == n


def test_driver_dense_tier_matches_edge_list_kernel(spark):
    """Force the dense driver path (edge cap ~0) on a blob+noise dataset
    and require LABEL-IDENTICAL output to the normal edge-list path —
    core components, border adoption, and noise all agree."""
    import numpy as np

    from fts_errors_clustering_spark.operators.dbscan import dbscan_labels

    rng = np.random.default_rng(5)
    pts = []
    for c, center in enumerate([0.0, 10.0, 20.0]):
        for i in range(60):
            pts.append((c * 1000 + i,
                        (center + rng.normal(0, 0.3, 4)).tolist()))
    for j in range(5):                       # far-out noise
        pts.append((9000 + j, (100.0 + 7 * j + np.zeros(4)).tolist()))
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")

    normal = dbscan_labels(spark, emb, id_col="vec_id", dim=4,
                           eps=1.5, min_pts=4)
    dense = dbscan_labels(spark, emb, id_col="vec_id", dim=4,
                          eps=1.5, min_pts=4, small_graph_edges=10)
    a = {r.vec_id: r.cluster for r in normal.collect()}
    b = {r.vec_id: r.cluster for r in dense.collect()}
    assert a == b
    assert sum(1 for v in a.values() if v == -1) == 5     # the noise points
    assert len({v for v in a.values() if v != -1}) == 3   # three blobs


def test_propagation_chain_graph_log_rounds(spark):
    """Chaos test for the at-scale pointer-halving propagation: a PATH
    graph is the worst case (diameter = n-1; every fixture graph is
    shallow). On a 4096-node chain the loop must (a) label every node with
    the chain head under the distributed tier, and (b) converge within
    ~log2(n) + slack rounds — max_iter is set to 18, so an accidental
    revert to plain one-hop min-propagation (which needs n-1 rounds) fails
    loudly via the non-convergence RuntimeError instead of silently
    costing O(n) rounds at 100 TB."""
    from pyspark.sql import functions as F

    from fts_errors_clustering_spark.operators.dbscan import dbscan_labels

    n = 4096
    fwd = (spark.range(n - 1)
           .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b")))
    pairs = fwd.unionByName(fwd.select(F.col("b").alias("a"),
                                       F.col("a").alias("b")))
    emb = spark.range(n).select(F.col("id").alias("vec_id"))
    out = dbscan_labels(spark, emb, id_col="vec_id", pairs=pairs,
                        min_pts=2, max_iter=18,
                        small_graph_edges=0, driver_kernel_rows=0)
    rows = out.collect()
    assert len(rows) == n
    assert all(r.cluster == 0 for r in rows)


def test_kernel_pairs_partition_invariant(spark, monkeypatch):
    """Both broadcast kernels must emit the identical pair sets whether
    the streaming side runs in one partition or is spread over the
    default parallelism. ``_stream_side`` sizes the spread from the pair
    count: the fixture is small, so it stays in its one partition (no
    shuffle); a side of 16,384 rows (2^28 pairs) is spread."""
    from fts_errors_clustering_spark.operators import pairwise
    from fts_errors_clustering_spark.operators.pairwise import (
        eps_pairs_broadcast, topk_candidate_pairs)

    emb = table(spark, SF_SMALL, "embeddings").coalesce(1)
    n = emb.count()
    par = spark.sparkContext.defaultParallelism
    assert par > 1

    def pairs():
        topk = topk_candidate_pairs(emb, "vec_id", "embedding", 5)
        eps = eps_pairs_broadcast(emb, "vec_id", "embedding", EPS)
        return (topk.rdd.getNumPartitions(), eps.rdd.getNumPartitions(),
                set(map(tuple, topk.collect())),
                set(map(tuple, eps.collect())))

    small = pairwise._stream_side(emb, "vec_id", "embedding", n)
    assert small.rdd.getNumPartitions() == 1
    assert "Exchange" not in small._jdf.queryExecution().executedPlan().toString()
    assert pairwise._stream_side(
        emb, "vec_id", "embedding", 16_384).rdd.getNumPartitions() == par
    one = pairs()
    monkeypatch.setattr(pairwise, "PAIRS_PER_TASK", 1)
    spread = pairs()
    assert one[:2] == (1, 1) and spread[:2] == (par, par)
    assert one[2] and one[3]
    assert one[2:] == spread[2:]


def _window_topk(emb, k: int, dim: int):
    """The exact top-k as the oracle states it: every pair a != b, the
    ``euclidean`` HOF fold, ``row_number() <= k`` by (dist, b). The full
    pair table stands in for the kernel's candidates: it is their
    superset, so this also checks the pruning."""
    from pyspark.sql import Window

    from fts_errors_clustering_spark.functions.vectors import euclidean
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    w = Window.partitionBy("a").orderBy("dist", "b")
    return (a.join(b, F.col("a") != F.col("b"))
            .select("a", "b", euclidean("va", "vb", dim).alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k).select("a", "b", "dist"))


@pytest.mark.parametrize("fixture", ["embeddings", "ties"])
@pytest.mark.parametrize("spread", [False, True])
def test_topk_kernel_equals_window_plan(spark, monkeypatch, fixture, spread):
    """The top-k kernel's (a, b, dist) rows must equal the window plan's
    bit for bit — on the sf0.001 embeddings and on a fixture of repeated
    vectors whose k-th neighbour sits inside a run of equal distances —
    with the streaming side in one partition and spread over the default
    parallelism. Each a's rows must come out in (dist, b) order, the
    order a per-a sum over them relies on."""
    from fts_errors_clustering_spark.operators import pairwise

    if fixture == "embeddings":
        emb, k, dim = table(spark, SF_SMALL, "embeddings"), 22, 64
    else:
        # 6 distinct vectors x 8 copies, ids not in vector order: every
        # point has 7 zero-distance neighbours, then runs of equal ones
        emb = spark.createDataFrame(
            [((i * 37) % 101, [float(i % 3), float((i // 3) % 2), 0.0, 1.0])
             for i in range(48)], "vec_id long, embedding array<float>")
        k, dim = 10, 4
    emb = emb.coalesce(1)
    par = spark.sparkContext.defaultParallelism
    if spread:
        monkeypatch.setattr(pairwise, "PAIRS_PER_TASK", 1)
    topk = pairwise.topk_candidate_pairs(emb, "vec_id", "embedding", k)
    assert topk.rdd.getNumPartitions() == (par if spread else 1)
    rows = [tuple(r) for r in topk.collect()]
    assert sorted(rows) == sorted(tuple(r) for r in
                                  _window_topk(emb, k, dim).collect())
    per_a: dict[int, list] = {}
    for a, b, dist in rows:
        per_a.setdefault(a, []).append((dist, b))
    assert all(v == sorted(v) and len(v) == k for v in per_a.values())
