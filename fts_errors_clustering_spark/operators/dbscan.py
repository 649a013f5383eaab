"""Distributed DBSCAN (M18) — the reference's hardest operator, rebuilt as
DataFrame algebra (SURVEY.md sections 2.7 M18, 7 step 6).

Reference: ``daal4py.dbscan(minObservations, epsilon)`` on the collected
2,888 x 200 embedding matrix (``/root/reference/notebooks/
word2vec_dbscan_approach.ipynb:223-233``, run at ``:30082`` with eps=20,
minPts=5 — the notebook flags its computed eps as broken, SURVEY.md 2.9.3).

Spark-first decomposition (no single-node collect of the *graph*):
1. eps-neighbor pairs: exact, via the broadcast-matrix numpy kernel
   (``operators/pairwise.py`` — GEMM prune + difference-form recheck;
   ~40x faster than the per-pair-expression cross join, whose generated
   code trips the 64 KB JIT limit at dim=64). ``eps_pairs_exact`` below is
   the pure-Catalyst reference form, kept for tests/small data. At 100 TB
   swap in the LSH candidate generator (``operators/similarity.py``) —
   the downstream plan is unchanged.
2. core points: neighborhood size (incl. self) >= min_pts — one groupBy.
3. components: two tiers, same labeling. (a) small-graph tier — when the
   core-core edge list is driver-sized (SMALL_GRAPH_EDGES, the same budget
   class as the broadcast kernel matrix), collect it once and run the min-
   label rounds vectorized in numpy, skipping the per-round job-scheduling
   floor entirely. (b) at-scale tier — iterative distributed min-label
   propagation with POINTER-HALVING each round (labels additionally jump to
   their label's label), so convergence takes O(log diameter) rounds instead
   of O(diameter) — the property that keeps chain-shaped clusters from
   serializing the job at 100 TB. Labels only decrease; the label sum is
   the convergence certificate; each step localCheckpoints to truncate
   lineage.
4. borders: non-core points adopt the MINIMUM component label among their
   core neighbors — deterministic, unlike sklearn's insertion-order
   assignment (documented delta, asserted in tests).
5. noise: everything else, labeled -1.

Cluster ids are min-member vec_ids -> fully deterministic, which makes the
whole operator value-checkable against a DuckDB recursive-CTE oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import sql_sq_dist, sq_dist
from ..plans.registry import register
from ..sources.readers import table
from .pairwise import _broadcast_side, eps_pairs_broadcast

DIM = 64
EPS = 1.18          # fixture-calibrated: yields a core/border/noise mix
MIN_PTS = 5         # the reference's min_samples (word2vec…:30082)

#: small-graph tier cutoff: a core-core edge list at or under this many rows
#: (2 x int64 -> ~160 MB at the cap) is collected and solved on the driver
#: with vectorized numpy min-label propagation — the same budget class as the
#: broadcast kernel matrix the eps-join already collects (pairwise.py header).
#: Above the cap the distributed pointer-halving loop below runs unchanged;
#: the tier only removes the per-round job-scheduling floor (~0.5-1 s x
#: O(log diameter) rounds) where the graph is driver-sized anyway.
SMALL_GRAPH_EDGES = 10_000_000

#: driver-kernel tier cutoff: at or under this many input rows the whole
#: DBSCAN (distances included) runs as chunked driver-side GEMM, skipping the
#: Arrow round-trip that materializes the eps-pair list as DataFrame rows —
#: at a degenerate (dense-cluster) eps that list is ~n²/4 rows and its
#: serialization dominates the run (measured 19.8 s of a 36 s DBSCAN on 5k
#: docs / 6.3M pairs; the GEMM itself is <1 s). 20k rows × 64 f64 is ~10 MB
#: of vectors and ≤ ~n·k edges held as int64 arrays — driver-budget class.
#: Above the cap, or whenever a caller supplies its own candidate ``pairs``
#: (LSH tier), the distributed plan below runs unchanged.
DRIVER_KERNEL_ROWS = 20_000

#: average-degree switch from the edge-list driver kernel to the dense
#: relaxation kernel: above ~this many eps-neighbors per point the edge
#: list's materialization cost (and this host's fresh-allocation fault
#: pathology, SCALE.md round 2g) dominates, while the dense kernel's
#: chunked re-scan cost does not grow with edge count at all
_DENSE_SWITCH_DEG = 32


def _dbscan_driver_tier(spark: SparkSession, emb: DataFrame, id_col: str,
                        vec_col: str, eps: float, min_pts: int,
                        edge_cap: int) -> DataFrame:
    """Exact DBSCAN for driver-sized inputs: collect the (id, vector) matrix
    once (shared ``pairwise._MATRIX_CACHE``), then ONE chunked-GEMM degree
    pass (the same GEMM-prune + difference-form-recheck contract as
    ``eps_pairs_broadcast``) yields the core mask, the total edge count —
    the sparse/dense regime decision — and doubles as the dense kernel's
    own first pass. The pre-r11 flow ran the edge-EXTRACTION scan
    speculatively and threw its pair arrays away on cap overflow, so the
    dense regime (degenerate knee eps, the pipeline-B graph) paid the
    nonzero-extraction scan twice (measured: 0.67 s of a 1.75 s warm
    pipeline DBSCAN was the discarded abort scan).

    - edge count <= ``edge_cap`` (sparse): one more scan extracts the pair
      arrays, ``_dbscan_numpy`` labels them — the old edge-list kernel.
    - over cap (dense): min-label relaxation over chunked-GEMM re-scans,
      no edge list ever materialized — each round takes the min
      core-neighbor label per core row then pointer-doubles, O(log n)
      rounds worst case and 2-3 in practice (an over-cap graph at
      n <= 20k has average degree > 32, so diameter is tiny); a final
      scan labels borders (min core-neighbor cluster) and noise (-1).

    Labeling is identical across regimes and to the distributed plan
    (min core id per component)."""
    from .pairwise import _CHUNK_BUDGET
    # .value on a driver-created broadcast is the local object (no fetch);
    # sharing the broadcast handle keeps ONE cache entry serving both this
    # driver kernel and the distributed eps-pair kernel
    ids, M = _broadcast_side(emb, id_col, vec_col)[0].value
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], f"{id_col} long, cluster long")
    order = np.argsort(ids)
    ids_s = np.ascontiguousarray(ids[order])
    Ms = np.ascontiguousarray(M[order])
    eps2 = float(eps) * float(eps)
    band = 1e-6 * max(eps2, 1.0)
    guard = eps2 + band
    n2 = np.einsum("ij,ij->i", Ms, Ms)
    step = max(1, _CHUNK_BUDGET // n)
    buf = np.empty((min(step, n), n))  # reused (pairwise.py _reuse_note)

    def adj_chunk(s: int) -> np.ndarray:
        """Boolean adjacency (within-eps, self excluded) for rows s:s+step,
        with the guard-band exact recheck of eps_pairs_broadcast."""
        Mc = Ms[s:s + step]
        g = buf[:len(Mc)]
        np.dot(Mc, Ms.T, out=g)
        g *= -2.0
        g += n2[s:s + step][:, None]
        g += n2[None, :]
        adj = g <= (eps2 - band)
        borderline = ~adj & (g <= guard)
        if borderline.any():
            ab, bb = np.nonzero(borderline)
            d2 = np.einsum("ij,ij->i", Mc[ab] - Ms[bb], Mc[ab] - Ms[bb])
            adj[ab, bb] = d2 <= eps2
        adj[np.arange(len(Mc)), s + np.arange(len(Mc))] = False
        return adj

    # pass 1 (shared): degrees -> core mask, total edges -> regime
    deg = np.empty(n, dtype=np.int64)
    for s in range(0, n, step):
        a = adj_chunk(s)
        deg[s:s + a.shape[0]] = a.sum(axis=1)
    core = deg + 1 >= min_pts
    if int(deg.sum()) <= edge_cap:
        # sparse regime: extract the pair arrays in one more scan
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for s in range(0, n, step):
            ai, bi = np.nonzero(adj_chunk(s))
            out_a.append(ids_s[s + ai])
            out_b.append(ids_s[bi])
        a_arr = (np.concatenate(out_a) if out_a
                 else np.empty(0, dtype=np.int64))
        b_arr = (np.concatenate(out_b) if out_b
                 else np.empty(0, dtype=np.int64))
        lab = _dbscan_numpy(ids_s, a_arr, b_arr, min_pts)
        return spark.createDataFrame(
            pd.DataFrame({id_col: ids_s, "cluster": lab}),
            f"{id_col} long, cluster long")

    labels = np.full(n, -1, dtype=np.int64)
    if not core.any():
        return spark.createDataFrame(
            pd.DataFrame({id_col: ids_s, "cluster": labels}),
            f"{id_col} long, cluster long")

    # pass 2: core components by min-label relaxation + pointer doubling
    big = np.iinfo(np.int64).max
    lab = np.where(core, ids_s, big)
    prev = None
    while True:
        for s in range(0, n, step):
            adj = adj_chunk(s)
            rows = np.nonzero(core[s:s + adj.shape[0]])[0]
            if not rows.size:
                continue
            cand = np.where(adj[rows][:, core], lab[core][None, :], big)
            m = cand.min(axis=1)
            # fancy indexing copies — assign back, never out= into a copy
            lab[s + rows] = np.minimum(lab[s + rows], m)
        # pointer doubling: labels are ids of core members -> jump to the
        # label's own label (ids_s is sorted, so labels key by searchsorted)
        ci = np.nonzero(core)[0]
        lab[ci] = np.minimum(lab[ci], lab[np.searchsorted(ids_s, lab[ci])])
        cur = int(lab[ci].sum())
        if cur == prev:
            break
        prev = cur
    labels[core] = lab[core]

    # pass 3: border rows adopt the min core-neighbor CLUSTER label; noise
    # stays -1
    for s in range(0, n, step):
        adj = adj_chunk(s)
        rows = np.nonzero(~core[s:s + adj.shape[0]])[0]
        if not rows.size:
            continue
        cand = np.where(adj[rows][:, core], lab[core][None, :], big)
        m = cand.min(axis=1)
        hit = m < big
        labels[s + rows[hit]] = m[hit]
    return spark.createDataFrame(
        pd.DataFrame({id_col: ids_s, "cluster": labels}),
        f"{id_col} long, cluster long")


def _components_numpy(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Min-member-id connected components of the (directed-symmetric) edge
    list — the numpy twin of the distributed loop: per-round edge relaxation
    (min neighbor label) + pointer doubling (label of my label), label sum as
    the convergence certificate. Returns (node_ids, labels) over the nodes
    that appear in the edge list."""
    ids = np.unique(np.concatenate([a, b]))        # sorted member ids
    ai = np.searchsorted(ids, a)
    bi = np.searchsorted(ids, b)
    # sort edges by source ONCE so every round's per-source minimum is a
    # buffered reduceat over contiguous segments — np.minimum.at is an
    # unbuffered scatter ~50x slower at 10M edges (measured: it was the
    # 60 s inside the "driver kernel" on the degenerate pipeline-B graph)
    order = np.argsort(ai, kind="stable")
    bi_s = bi[order]
    src, starts = np.unique(ai[order], return_index=True)
    lab = ids.copy()
    prev = None
    while True:
        segmin = np.minimum.reduceat(lab[bi_s], starts)
        lab[src] = np.minimum(lab[src], segmin)
        # pointer doubling: labels are member ids of the same component, so
        # they key back into `ids`; jump to the label's own current label
        lab = np.minimum(lab, lab[np.searchsorted(ids, lab)])
        cur = int(lab.sum())
        if cur == prev:
            return ids, lab
        prev = cur


def _dbscan_numpy(all_ids: np.ndarray, a: np.ndarray, b: np.ndarray,
                  min_pts: int) -> np.ndarray:
    """Steps 2-5 over a driver-collected eps-pair list: core points, core
    components, border adoption (min core-neighbor cluster), noise = -1.
    Identical labeling to the distributed path. Returns the cluster label
    aligned with ``all_ids``."""
    all_ids = np.sort(all_ids)
    labels = np.full(len(all_ids), -1, dtype=np.int64)
    if len(a) == 0:
        if min_pts <= 1:                           # every isolated point is
            return all_ids.copy()                  # its own singleton core
        return labels
    deg_ids, deg = np.unique(a, return_counts=True)
    if min_pts <= 1:
        core_ids = all_ids
    else:
        core_ids = deg_ids[deg + 1 >= min_pts]
    core_lab = core_ids.copy()                     # isolated core -> own id
    a_core = np.isin(a, core_ids, assume_unique=False)
    b_core = np.isin(b, core_ids, assume_unique=False)
    cc = a_core & b_core
    if cc.any():
        nids, nlab = _components_numpy(a[cc], b[cc])
        core_lab[np.searchsorted(core_ids, nids)] = nlab
    pos = np.searchsorted(all_ids, core_ids)
    labels[pos] = core_lab
    # border: non-core a with a core neighbor b adopts min cluster over
    # its core neighbors
    bm = (~a_core) & b_core
    if bm.any():
        ba, bb = a[bm], b[bm]
        bcl = core_lab[np.searchsorted(core_ids, bb)]
        order = np.argsort(ba, kind="stable")      # reduceat, not .at
        border_ids, starts = np.unique(ba[order], return_index=True)
        border_lab = np.minimum.reduceat(bcl[order], starts)
        labels[np.searchsorted(all_ids, border_ids)] = border_lab
    return labels


def eps_pairs_exact(emb: DataFrame, id_col: str, vec_col: str,
                    dim: int, eps: float) -> DataFrame:
    """Directed eps-neighbor pairs (a, b), a != b, ||va - vb|| <= eps.
    Squared-distance comparison (no sqrt) keeps the filter cheap."""
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (a.join(b, F.col("a") != F.col("b"))
             .where(sq_dist("va", "vb", dim) <= F.lit(eps * eps))
             .select("a", "b"))


def dbscan_labels(spark: SparkSession, emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", dim: int = DIM,
                  eps: float = EPS, min_pts: int = MIN_PTS,
                  pairs: DataFrame | None = None,
                  max_iter: int = 50,
                  small_graph_edges: int = SMALL_GRAPH_EDGES,
                  driver_kernel_rows: int = DRIVER_KERNEL_ROWS) -> DataFrame:
    """Full DBSCAN; returns (id_col, cluster) with cluster = min member id
    of the density-connected component, or -1 for noise."""
    ids = emb.select(F.col(id_col).alias("id"))
    # n from the kernels' broadcast side: both tiers below collect it anyway
    # (cached by plan), so the tier decision costs no count job
    n_rows = (_broadcast_side(emb, id_col, vec_col)[1] if pairs is None
              else None)
    if pairs is None and n_rows <= driver_kernel_rows:
        # driver-kernel tier (DRIVER_KERNEL_ROWS header note): distances,
        # components, borders all in chunked numpy — no eps-pair DataFrame.
        # The edge-list form is for SPARSE eps-graphs only: past ~32
        # neighbors/point its accumulated edge arrays and edge-keyed
        # temporaries hit this class of host hard (fresh-allocation page
        # faults; 6.3M edges measured 60 s vs 3 s dense), while the dense
        # relaxation's cost is flat in edge count. One shared degree pass
        # decides the regime (see _dbscan_driver_tier).
        return _dbscan_driver_tier(
            spark, emb, id_col, vec_col, eps, min_pts,
            edge_cap=min(small_graph_edges, _DENSE_SWITCH_DEG * n_rows))
    # Cache lifecycle (registry-wide persistent-RDD gate): the pairs/core/
    # edges caches exist for this function's EAGER phases — tier-deciding
    # counts, the toPandas driver solves, the propagation loop. Each tier
    # releases them before returning: local-result tiers after the driver
    # solve, the distributed tier before handing back its lazy plan (whose
    # single materialization then recomputes the candidate lineage once —
    # the price of not pinning an edge-sized block for the session).
    if pairs is None:
        pairs = eps_pairs_broadcast(emb, id_col, vec_col, eps)
    pairs = pairs.cache()

    if pairs.count() <= small_graph_edges:
        # small-graph tier: the full eps-pair list fits the driver budget
        # (SMALL_GRAPH_EDGES header note) — solve core/components/border/
        # noise in one vectorized numpy pass and ship back only the final
        # (id, cluster) rows, skipping ~8 tiny stages of scheduling floor.
        ppdf = pairs.toPandas()
        pairs.unpersist()
        idpdf = ids.toPandas()
        all_ids = np.sort(idpdf["id"].to_numpy(dtype=np.int64))
        lab = _dbscan_numpy(all_ids,
                            ppdf["a"].to_numpy(dtype=np.int64),
                            ppdf["b"].to_numpy(dtype=np.int64), min_pts)
        return spark.createDataFrame(
            pd.DataFrame({id_col: all_ids, "cluster": lab}),
            f"{id_col} long, cluster long")

    nbc = pairs.groupBy("a").agg((F.count("*") + 1).alias("cnt"))
    if min_pts > 1:
        # a point absent from `pairs` has neighborhood size 1 < min_pts, so
        # core derives from the pair aggregate alone — no scan of `ids`
        core = (nbc.where(F.col("cnt") >= min_pts)
                .select(F.col("a").alias("id")).cache())
    else:
        core = (ids.join(nbc, ids.id == nbc.a, "left")
                .where(F.coalesce(F.col("cnt"), F.lit(1)) >= min_pts)
                .select("id").cache())

    core_a = core.select(F.col("id").alias("a"))
    core_b = core.select(F.col("id").alias("b"))
    # pin the edge partitioning on the per-round join key ONCE: every
    # propagation round joins edges.b == labels.id, and a cached-but-
    # unpartitioned edge table would re-shuffle the (dense-graph: millions
    # of rows) edge stream per round; hash-partitioned on b, each round
    # shuffles only the labels table (≤ n_core rows) plus the map-side-
    # combined per-a minima (measured: 33 s → ~8 s on the degenerate-eps
    # pipeline-B graph, 6.2M edges over 5k points)
    edges = (pairs.join(core_a, "a", "left_semi")
                  .join(core_b, "b", "left_semi")
                  .repartition("b").cache())

    if edges.count() <= small_graph_edges:
        # small-graph tier: the edge list fits the driver budget (see
        # SMALL_GRAPH_EDGES) — solve components in one numpy pass instead of
        # paying the scheduling floor per propagation round. Exactly the
        # same labeling (min member id), so the oracle and tests don't care
        # which tier ran.
        epdf = edges.toPandas()
        edges.unpersist()
        if len(epdf):
            nids, nlab = _components_numpy(
                epdf["a"].to_numpy(dtype=np.int64),
                epdf["b"].to_numpy(dtype=np.int64))
            lab_df = spark.createDataFrame(
                list(zip(nids.tolist(), nlab.tolist())), "id long, nlbl long")
            comp = (core.join(lab_df, "id", "left")
                    .select("id", F.coalesce(F.col("nlbl"), F.col("id"))
                             .alias("cluster")))
        else:
            comp = core.select("id", F.col("id").alias("cluster"))
        return _finish_dbscan(ids, pairs, core, comp, id_col,
                              caches=[pairs, core])

    # init labels at min(id, min core-neighbor id) — algebraically identical
    # to one min-propagation round over labels0(v)=v, so the loop starts a
    # full round ahead (measured: one fewer ~1 s round at bench scale)
    init_min = edges.groupBy("a").agg(F.min("b").alias("nlbl"))
    labels = (core.join(init_min, core.id == init_min.a, "left")
              .select("id",
                      F.least(F.col("id"),
                              F.coalesce(F.col("nlbl"), F.col("id")))
                       .alias("lbl"))
              .localCheckpoint())
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges.b == labels.id)
                   .groupBy("a").agg(F.min("lbl").alias("nlbl")))
        stale = labels
        labels = (labels.join(nbr_min, labels.id == nbr_min.a, "left")
                  .select(labels.id,
                          F.least(F.col("lbl"),
                                  F.coalesce(F.col("nlbl"), F.col("lbl")))
                           .alias("lbl")))
        # pointer-halving: adopt the current label OF my label (labels are
        # core-point ids, so they key back into this same table) — doubles
        # the propagation horizon per round
        jump = labels.select(F.col("id").alias("pid"),
                             F.col("lbl").alias("plbl"))
        labels = (labels.join(jump, labels.lbl == jump.pid, "left")
                  .select(labels.id,
                          F.least(F.col("lbl"),
                                  F.coalesce(F.col("plbl"), F.col("lbl")))
                           .alias("lbl"))
                  .localCheckpoint(eager=False))
        # the certificate action below is what materializes the (lazy)
        # checkpoint — one job per round, not two
        cur = labels.agg(F.sum("lbl")).first()[0]
        # this round is materialized; drop the previous (checkpoint-aware)
        from ..plans.registry import unpersist_any
        unpersist_any(stale)
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # the label-sum certificate never stabilized: labels only decrease,
        # so returning here would silently merge/split components
        raise RuntimeError(
            f"dbscan_labels: propagation did not converge in {max_iter} "
            "rounds (pointer-halving gives O(log diameter) — raise max_iter)")

    from ..plans.registry import retain_for_consumer
    comp = retain_for_consumer(labels).select(
        "id", F.col("lbl").alias("cluster"))
    edges.unpersist()  # the loop is done; nothing downstream reads edges
    return _finish_dbscan(ids, pairs, core, comp, id_col,
                          caches=[pairs, core])


def _finish_dbscan(ids: DataFrame, pairs: DataFrame, core: DataFrame,
                   comp: DataFrame, id_col: str,
                   caches: list[DataFrame] | None = None) -> DataFrame:
    """Steps 4-5 (borders, noise) shared by both component tiers. Releases
    ``caches`` before returning: they served this module's eager tiering
    phases, and retaining them would pin edge-sized blocks for the session
    to save at most one candidate-lineage recompute at the caller's single
    materialization."""
    border = (pairs.join(core.select(F.col("id").alias("b")), "b", "left_semi")
              .join(core.select(F.col("id").alias("a")), "a", "left_anti")
              .join(comp.select(F.col("id").alias("b"), "cluster"), "b")
              .groupBy("a").agg(F.min("cluster").alias("cluster"))
              .select(F.col("a").alias("id"), "cluster"))
    assigned = comp.unionByName(border)
    noise = (ids.join(assigned.select("id"), "id", "left_anti")
             .select("id", F.lit(-1).cast("long").alias("cluster")))
    for c in caches or ():
        c.unpersist()
    return (assigned.unionByName(noise)
            .select(F.col("id").alias(id_col), F.col("cluster")))


def _dbscan_oracle(eps: float, min_pts: int) -> str:
    """DuckDB recursive-CTE oracle of the same semantics."""
    d2 = sql_sq_dist("a.embedding", "b.embedding", DIM)
    return f"""
    WITH RECURSIVE
    pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE {d2} <= {eps * eps!r}
    ),
    nbc AS (SELECT a AS id, COUNT(*) + 1 AS cnt FROM pairs GROUP BY a),
    core AS (SELECT e.vec_id AS id FROM embeddings e
             LEFT JOIN nbc ON nbc.id = e.vec_id
             WHERE COALESCE(nbc.cnt, 1) >= {min_pts}),
    cedge AS (SELECT p.a, p.b FROM pairs p
              JOIN core c1 ON p.a = c1.id JOIN core c2 ON p.b = c2.id),
    reach(src, dst) AS (
      SELECT a, b FROM cedge
      UNION
      SELECT r.src, e.b FROM reach r JOIN cedge e ON r.dst = e.a
    ),
    comp AS (SELECT c.id, LEAST(c.id, COALESCE(MIN(r.dst), c.id)) AS cluster
             FROM core c LEFT JOIN reach r ON r.src = c.id GROUP BY c.id),
    border AS (SELECT p.a AS id, MIN(m.cluster) AS cluster
               FROM pairs p
               JOIN comp m ON p.b = m.id
               WHERE p.a NOT IN (SELECT id FROM core)
               GROUP BY p.a),
    labs AS (
      SELECT id, cluster FROM comp
      UNION ALL SELECT id, cluster FROM border
      UNION ALL
      SELECT e.vec_id, CAST(-1 AS BIGINT) FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT id FROM comp)
        AND e.vec_id NOT IN (SELECT id FROM border)
    )
    """


@register(
    "dbscan_labels",
    oracle=_dbscan_oracle(EPS, MIN_PTS) +
           "SELECT id AS vec_id, cluster FROM labs",
    tags=("clustering", "dbscan"),
)
def dbscan_labels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18: DBSCAN cluster label per point (min-member-id labeling, -1 =
    noise) on the fixture embeddings at (eps, minPts) = ({EPS}, {MIN_PTS})."""
    emb = table(spark, sf_dir, "embeddings")
    return dbscan_labels(spark, emb)


@register(
    "dbscan_summary",
    oracle=_dbscan_oracle(EPS, MIN_PTS) + """
    SELECT COUNT(DISTINCT CASE WHEN cluster >= 0 THEN cluster END) AS n_clusters,
           COUNT(*) FILTER (WHERE cluster = -1) AS n_noise,
           COUNT(*) AS n_points
    FROM labs
    """,
    tags=("clustering", "dbscan"),
)
def dbscan_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18 + A9 rollup: cluster count / noise count / total, the shape the
    reference eyeballs via ``Counter`` after its DBSCAN run."""
    emb = table(spark, sf_dir, "embeddings")
    labs = dbscan_labels(spark, emb)
    return labs.agg(
        F.countDistinct(F.when(F.col("cluster") >= 0, F.col("cluster")))
         .alias("n_clusters"),
        F.count(F.when(F.col("cluster") == -1, 1)).alias("n_noise"),
        F.count("*").alias("n_points"))


#: BRP-LSH geometry, derived not guessed: an eps-pair's difference vector
#: (norm <= EPS) projects onto a unit random direction with std
#: EPS/sqrt(d) = 1.18/8 ~ 0.15 at d=64. The bucket width must sit AT that
#: scale: per-table collision probability for a worst-case eps-pair is
#: then ~0.5 and six OR'd tables give ~0.98+ EDGE recall — what the
#: sparse-graph regime needs (at 500 fixture points every missed edge
#: splits a cluster: bl=0.05 scored agreement 0.12 there while scoring
#: 0.99+ on the dense 10x set, where redundant replica paths mask missing
#: edges). The other direction is as wrong: the old 1.0 put every point
#: in ~one bucket per table — full recall by DEGENERATE blocking, each
#: table's self-join quadratic (543 s vs 21 s exact at 10x). Measured
#: frontier at 10x/20k: 1.0/6t 543 s @ 1.0 -> 0.15/6t ~5 min @ 1.0 ->
#: 0.05/6t 126 s @ 0.992(dense only) -> 0.01/6t 30 s @ 0.876. SCALE.md
#: §"Round 6: LSH-DBSCAN crossover" records the full sweep table and the
#: regime analysis (chunked-GEMM exact wins while n^2 is feasible; this
#: tier exists for the n where it isn't, where its cost is
#: candidate-count-bound — i.e. output-bound on any corpus this dense).
LSH_BUCKET_LENGTH = 0.15
LSH_N_TABLES = 6

#: minimum per-point label agreement between the LSH-candidate run and the
#: exact tiered run, enforced IN-ROW by dbscan_labels_lsh (and re-asserted
#: by tests/test_dbscan.py)
LSH_AGREEMENT_FLOOR = 0.95


def _certify_default() -> bool:
    """In-row quality certifications (the second exact pass + its 1-row
    agreement aggregate) default ON — the driver's rows-only hash then
    doubles as a regression gate — and are switched off for
    production-scale invocations with SPARK_GRAFT_CERTIFY=0, where the
    exact twin is the thing the approximate tier exists to avoid (the r09
    advisor finding: certification must not be an unavoidable eager
    doubling of the operator's cost)."""
    import os
    return os.environ.get("SPARK_GRAFT_CERTIFY", "1") != "0"


@register("dbscan_labels_lsh", oracle=None, tags=("clustering", "dbscan", "ml"))
def dbscan_labels_lsh(spark: SparkSession, sf_dir: str,
                      bucket_length: float = LSH_BUCKET_LENGTH,
                      num_tables: int = LSH_N_TABLES,
                      certify: bool | None = None) -> DataFrame:
    """M18 with the 100 TB candidate generator swapped in: eps-pairs from
    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` instead of the
    broadcast kernel — the SAME downstream core/propagation/border plan
    (the swap this module's header promises). Rows-only in the driver;
    agreement with exact DBSCAN asserted in tests/test_dbscan.py, at 10x
    in the smoke, AND certified IN-ROW (r08 verdict, the
    ``ann_recall_audit`` playbook): every output row carries the measured
    point-label agreement against the exact tiered DBSCAN on the same
    corpus, and the operator RAISES below the documented 0.95 floor — so
    the driver's rows-only hash doubles as a recall regression detector
    (the exact run is the cheap side here: same fixture, broadcast-kernel
    tier). The certification is gated: default ON (driver/tests), OFF via
    certify=False or SPARK_GRAFT_CERTIFY=0 for production-scale corpora
    where the exact twin is exactly what this tier exists to avoid — the
    uncertified row carries NULL agreement columns rather than a faked
    floor check. Bucket width is sized to the unit-norm projection scale
    (see LSH_BUCKET_LENGTH) — the parameter that decides whether the
    candidate join is bucket-bounded or quadratic."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    emb = table(spark, sf_dir, "embeddings")
    feat = emb.select("vec_id", array_to_vector("embedding").alias("features"))
    lsh = BucketedRandomProjectionLSH(inputCol="features", outputCol="hashes",
                                      bucketLength=bucket_length,
                                      numHashTables=num_tables,
                                      seed=42)
    model = lsh.fit(feat)
    pairs = (model.approxSimilarityJoin(feat, feat, EPS, distCol="dist")
             .select(F.col("datasetA.vec_id").alias("a"),
                     F.col("datasetB.vec_id").alias("b"))
             .where(F.col("a") != F.col("b")))
    from ..plans.registry import retain_for_consumer
    labs = retain_for_consumer(dbscan_labels(spark, emb, pairs=pairs))
    if certify is None:
        certify = _certify_default()
    if not certify:
        # same schema either way (driver stability); the uncertified row
        # says so explicitly instead of faking a floor check
        return labs.select(
            "vec_id", "cluster",
            F.lit(None).cast("double").alias("agreement_vs_exact"),
            F.lit(None).cast("boolean").alias("meets_floor"))
    exact = dbscan_labels(spark, emb).select(
        "vec_id", F.col("cluster").alias("c_exact"))
    stat = (labs.join(exact, "vec_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("cluster") == F.col("c_exact"), 1)
                       .otherwise(0)).alias("n_agree"))
            .collect()[0])
    agreement = round(stat["n_agree"] / max(stat["n"], 1), 4)
    if agreement < LSH_AGREEMENT_FLOOR:
        raise AssertionError(
            f"LSH-DBSCAN agreement floor broken: {agreement} "
            f"< {LSH_AGREEMENT_FLOOR} vs exact labels")
    return labs.select(
        "vec_id", "cluster",
        F.lit(agreement).alias("agreement_vs_exact"),
        F.lit(True).alias("meets_floor"))
