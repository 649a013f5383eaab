"""Graph operators over relationship structures implied by the fixtures.

The reference has no graph layer; a training-data engine needs one the
moment curation reasons about link structure (domain graphs, citation
graphs, co-occurrence graphs): PageRank-style centrality is the canonical
"which sources matter" signal feeding quality-weighted sampling (the same
role the original PageRank paper gives it for web corpora).

``part_copurchase_pagerank`` builds the co-purchase graph (parts appearing
in the same order, weight = number of co-containing orders — bounded
fanout: a TPC-H-shaped order holds <= 7 lineitems, so edge generation is a
bounded self-join, never a hot-key explosion) and runs FIXED-ITERATION
weighted PageRank. Fixed iteration count keeps the operator ANSI-SQL
expressible: the DuckDB oracle unrolls the same five update steps as CTEs,
so even this iterative algorithm gets a full value-hash correctness row
(most engines settle for rows-only checks on iterative ops).

Scale shape: the edge table is built once, pre-partitioned on the join key
and cached; each iteration shuffles only the rank table (one row per node)
plus map-side-combined per-node partial sums — the dbscan.py propagation
discipline. Rank updates are pure column algebra; convergence-to-fixpoint
variants would swap the fixed range for the label-sum certificate loop.

Cache hygiene: every registered query here pins intermediates (`.cache()`)
for reuse across consuming branches/iterations, MATERIALIZES its bounded
final result (top-k / 1-row audits) while those caches are hot, then
releases them in a ``finally`` — a long-lived session running the full
query sweep accumulates nothing (the ``fit_kmeans_best`` discipline).
Loop lineage: a fixed-round loop may carry its full lineage ONLY if each
round references the previous round ONCE (PageRank: ranks feed one join
-> linear depth, bounded by the compile-time constant). A round that
reads its predecessor k times multiplies plan size by k^rounds — k-core
reads edges three times per peel (degree agg + both semi joins), which
OOM'd a default-1g-driver session at task-serialization time — so k-core
materializes each round's edge set into a cache and releases the
previous one (the Pregel frontier discipline; at most one round cache
pinned at any moment, none after the query returns). Unbounded loops
elsewhere (dbscan label propagation, the BPE trainer) likewise truncate
per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import table


def local_relation(df: DataFrame, jrows=None) -> DataFrame:
    """``df``'s rows as a ``LocalRelation`` frame with the identical
    schema, built inside the JVM (``SparkSession.createDataFrame(
    java.util.List, StructType)``). ``jrows`` is an already collected
    ``df._jdf.collectAsList()``; without it ``df`` is collected here.
    The Python route, ``createDataFrame(df.collect(), df.schema)``, builds
    a Python RDD, so consuming even a 1-row result started 4 Python tasks;
    this route starts no Python worker, and collecting the returned frame
    runs no job. Measured at local[4] on a 1-row result, collect + re-wrap
    + consumer collect: 1.1-1.3 CPU-s (0.33-0.39 s) by the Python route,
    0.10-0.17 CPU-s (0.04-0.07 s) by this one.
    Arrow (``toArrow``) is not an alternative: it rejects a null struct
    whose fields are declared non-null."""
    if jrows is None:
        jrows = df._jdf.collectAsList()
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(
        jrows, df._jdf.schema()), spark)


def materialize_release(df: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Collect a BOUNDED result while its supporting caches are hot, then
    unpersist them and return the rows as a JVM-built ``LocalRelation``
    with the identical schema (``local_relation``). Only for results
    bounded by construction (LIMIT k / 1-row audits) — never node- or
    edge-sized tables. Release goes through ``registry.unpersist_any`` so
    checkpoint-backed frames (LogicalRDD pins OUTSIDE the CacheManager)
    are freed too — plain ``unpersist()`` is a no-op on a
    localCheckpoint."""
    from ..plans.registry import unpersist_any
    try:
        rows = df._jdf.collectAsList()
    finally:
        for c in caches:
            unpersist_any(c)
    return local_relation(df, rows)


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Undirected distinct co-purchase edge list ``(a, b)`` with ``a < b``
    over ``lineitem (l_orderkey, l_partkey)`` — the shared input of the
    whole graph family, built WITHOUT the orderkey self-join (guide §2.4):
    one groupBy(l_orderkey) collects each order's distinct part set as a
    SORTED array (collect_set dedupes in the same exchange, so no separate
    pre-distinct pass), in-row array algebra expands the <= C(7,2) = 21
    ordered pairs per basket, and one distinct collapses cross-order
    repeats. Two exchanges total (orderkey groupBy + pair distinct) vs the
    self-join form's three-to-four, and the join operator itself — whose
    per-order quadratic fanout the old post-join distinct had to collapse
    — disappears. Basket width is data-bounded (TPC-H orders hold <= 7
    parts), so the expansion is never a hot-key explosion; a corpus with
    unbounded baskets would cap or salt the array here."""
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    pairs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS a, y AS b))))")
    return (baskets.select(F.explode(pairs).alias("kv"))
            .select("kv.a", "kv.b").distinct())

DAMPING = 0.85
N_ITER = 5
TOP_PARTS = 25
ROUND_AT = 10  # ~6 significant digits at rank ~1e-4; double-sum cross-
               # engine noise is ~1e-15 relative — 9 orders below the round


def _pagerank(edges: DataFrame, damping: float, n_iter: int,
              caches: list[DataFrame] | None = None) -> DataFrame:
    """Weighted PageRank over a directed edge list (u, v, w). Returns
    (id, r). Internal caches (normalized edges, node list) are appended to
    ``caches`` when given so the caller can release them once its bounded
    output is materialized (see module docstring).

    PRECONDITION (asserted): every edge target also appears as a source —
    i.e. no dangling nodes, automatically true for symmetric graphs like
    the co-purchase graph below. The engine keeps inbound-less nodes at
    base rank (left join + coalesce, total algebra) while the unrolled
    oracle CTE pattern (inner join on ep.v) DROPS them — the two agree
    only under this precondition, so reusing this helper on an asymmetric
    graph without mirroring the oracle would silently mismatch. Dangling
    TARGETS additionally leak rank mass (no redistribution step), which
    the assert also rules out."""
    dangling = (edges.select(F.col("v").alias("u"))
                .exceptAll(edges.select("u")).limit(1).count())
    if dangling:
        raise ValueError(
            "_pagerank requires every edge target to appear as a source "
            "(no dangling nodes); add reverse edges or a dangling-mass "
            "redistribution step before reusing it on asymmetric graphs")
    outs = edges.groupBy("u").agg(F.sum("w").alias("s"))
    ep = (edges.join(outs, "u")
          .select("u", "v", (F.col("w") / F.col("s")).alias("p"))
          .repartition("u").cache())
    nodes = outs.select(F.col("u").alias("id")).cache()
    if caches is not None:
        caches.extend([ep, nodes])
    n = nodes.count()
    if n == 0:  # empty graph -> empty rank table, same schema
        return nodes.select("id", F.lit(0.0).alias("r"))
    ranks = nodes.select("id", F.lit(1.0 / n).alias("r"))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (ep.join(ranks, ep.u == ranks.id)
                   .groupBy(F.col("v").alias("id"))
                   .agg(F.sum(F.col("p") * F.col("r")).alias("m")))
        # symmetric graphs leave no node without inbound mass, but keep the
        # algebra total anyway: missing inbound -> base rank only
        ranks = (nodes.join(contrib, "id", "left")
                 .select("id",
                         (F.lit(base) + F.lit(damping) *
                          F.coalesce(F.col("m"), F.lit(0.0))).alias("r")))
    return ranks


@register(
    "part_copurchase_pagerank",
    oracle=f"""
    WITH copairs AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_partkey AS u, l2.l_partkey AS v
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ),
    edges AS (SELECT u, v, CAST(COUNT(*) AS DOUBLE) AS w
              FROM copairs GROUP BY u, v),
    outs AS (SELECT u, SUM(w) AS s FROM edges GROUP BY u),
    ep AS (SELECT e.u, e.v, e.w / o.s AS p FROM edges e JOIN outs o ON e.u = o.u),
    nn AS (SELECT COUNT(*) AS n FROM outs),
    r0 AS (SELECT u AS id, 1.0 / (SELECT n FROM nn) AS r FROM outs),
    r1 AS (SELECT ep.v AS id,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(ep.p * r0.r) AS r
           FROM ep JOIN r0 ON ep.u = r0.id GROUP BY ep.v),
    r2 AS (SELECT ep.v AS id,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(ep.p * r1.r) AS r
           FROM ep JOIN r1 ON ep.u = r1.id GROUP BY ep.v),
    r3 AS (SELECT ep.v AS id,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(ep.p * r2.r) AS r
           FROM ep JOIN r2 ON ep.u = r2.id GROUP BY ep.v),
    r4 AS (SELECT ep.v AS id,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(ep.p * r3.r) AS r
           FROM ep JOIN r3 ON ep.u = r3.id GROUP BY ep.v),
    r5 AS (SELECT ep.v AS id,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(ep.p * r4.r) AS r
           FROM ep JOIN r4 ON ep.u = r4.id GROUP BY ep.v)
    SELECT id AS part, ROUND(r, {ROUND_AT}) AS rank
    FROM r5
    ORDER BY ROUND(r, {ROUND_AT}) DESC, id ASC
    LIMIT {TOP_PARTS}
    """,
    tags=("graph", "pagerank", "join"),
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PARTS} parts by {N_ITER}-iteration weighted PageRank over
    the co-purchase graph. The oracle unrolls the identical five update
    steps as SQL CTEs — a full value-hash check on an iterative graph op."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-(a<b) pair co-order counts from basket arrays (copurchase_edges
    # shape, keeping the per-order multiplicity), then MIRRORED: the
    # co-containment weight is symmetric by definition, so counting each
    # unordered pair once and unioning the swap halves the pair stream the
    # aggregate shuffles vs the old u <> v self-join (guide §2.3/§2.4)
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS a, y AS b))))")
    half = (baskets.select(F.explode(pair_expr).alias("kv"))
            .groupBy(F.col("kv.a").alias("u"), F.col("kv.b").alias("v"))
            .agg(F.count("*").cast("double").alias("w")))
    edges = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    caches: list[DataFrame] = []
    ranks = _pagerank(edges, DAMPING, N_ITER, caches=caches)
    out = (ranks.select(F.col("id").alias("part"),
                        F.round("r", ROUND_AT).alias("rank"))
           .orderBy(F.desc("rank"), F.asc("part")).limit(TOP_PARTS))
    return materialize_release(out, caches)


#: rank encoding for the degree total order: deg * 2^31 + node id. partkeys
#: are < 2^31 and degrees < 2^31 in any realistic corpus, so the composite
#: is collision-free in a BIGINT on both engines.
_RANK_BASE = 2_147_483_648


@register(
    "copurchase_triangle_count",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und
      ) GROUP BY x
    ),
    rk AS (SELECT x, d * {_RANK_BASE} + x AS r FROM deg),
    orient AS (
      SELECT CASE WHEN ra.r < rb.r THEN u.a ELSE u.b END AS lo,
             CASE WHEN ra.r < rb.r THEN u.b ELSE u.a END AS hi,
             CASE WHEN ra.r < rb.r THEN rb.r ELSE ra.r END AS hi_r
      FROM und u JOIN rk ra ON u.a = ra.x JOIN rk rb ON u.b = rb.x
    ),
    wedge AS (
      SELECT o1.hi AS v, o2.hi AS w
      FROM orient o1 JOIN orient o2
        ON o1.lo = o2.lo AND o1.hi_r < o2.hi_r
    )
    SELECT CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM wedge) AS BIGINT) AS n_wedges,
           CAST((SELECT COUNT(*) FROM wedge wg
                 JOIN orient o ON o.lo = wg.v AND o.hi = wg.w) AS BIGINT)
             AS n_triangles
    """,
    tags=("graph", "join"),
)
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the undirected part co-purchase graph via
    the DEGREE-ORDERED node-iterator (Schank-Wagner / Latapy): every edge
    is oriented from its lower- to its higher-(degree, id) endpoint, wedges
    are generated only at each edge's LOW endpoint, and a wedge closes into
    a triangle iff its (v, w) pair exists in the oriented edge set. The
    orientation bounds every node's out-degree by O(sqrt(m)) regardless of
    the raw degree distribution — the property that makes triangle counting
    shuffle-bounded at 100 TB where the naive 3-way self-join explodes on
    hub nodes (a hub's wedges are generated by its many LOW-degree
    neighbors, never by the hub itself).

    Output is the 1-row (edges, wedges, triangles) audit; all integers, so
    the oracle check is exact. The oracle replays the identical
    orientation in SQL.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-array pair expansion (copurchase_edges): no orderkey self-join
    und = copurchase_edges(li).cache()  # reused by deg / orient / edge count
    caches: list[DataFrame] = [und]
    out = triangle_stats(und, caches=caches)
    return materialize_release(out, caches)


def triangle_stats(und: DataFrame,
                   caches: list[DataFrame] | None = None) -> DataFrame:
    """Degree-ordered triangle audit over an undirected edge list
    ``(a, b)`` with ``a < b``, distinct. Returns one row
    ``(n_edges, n_wedges, n_triangles)``. The internal oriented-edge cache
    is appended to ``caches`` when given (see module docstring)."""
    deg = (und.select(F.col("a").alias("x"))
           .unionAll(und.select(F.col("b").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    rk = deg.select("x", (F.col("d") * F.lit(_RANK_BASE) + F.col("x"))
                    .alias("r"))
    ra = rk.select(F.col("x").alias("a"), F.col("r").alias("ra"))
    rb = rk.select(F.col("x").alias("b"), F.col("r").alias("rb"))
    orient = (und.join(ra, "a").join(rb, "b")
              .select(F.when(F.col("ra") < F.col("rb"), F.col("a"))
                       .otherwise(F.col("b")).alias("lo"),
                      F.when(F.col("ra") < F.col("rb"), F.col("b"))
                       .otherwise(F.col("a")).alias("hi"),
                      F.greatest("ra", "rb").alias("hi_r"))
              .cache())  # feeds both wedge sides, the closer, and n_w
    if caches is not None:
        caches.append(orient)
    # adjacency-array edge iterator: a wedge (v, w) at lo closes iff the
    # oriented edge (v, w) exists, so the triangle total is
    # sum over oriented edges (lo, hi) of |N+(lo) INTERSECT N+(hi)| —
    # each triangle a<b<c (by rank) counted exactly once at its (a, b)
    # edge. Attaching each endpoint's out-neighbor array and intersecting
    # IN-ROW keeps the plan edge-sized end to end: the old formulation
    # materialized the full wedge set (sum_lo C(out_deg, 2) rows — 25M at
    # sf0.1, superlinear in m) through a join + semi-join probe, while the
    # arrays carry the same information in O(m) total entries, each
    # bounded O(sqrt m) by the orientation.
    # cached: a_nb and b_nb both read this aggregate — uncached, the plan
    # carries two full groupBy+collect_list passes over orient unless AQE
    # exchange reuse happens to dedupe them (r10 advisor note)
    adj = (orient.groupBy("lo").agg(F.collect_list("hi").alias("nb"))
           .cache())
    if caches is not None:
        caches.append(adj)
    a_nb = adj.select("lo", F.col("nb").alias("nb_lo"))
    b_nb = adj.select(F.col("lo").alias("hi"), F.col("nb").alias("nb_hi"))
    # inner joins: a lo always has out-neighbors (it sourced this edge);
    # a hi without any contributes 0 triangles and may drop
    per_edge = (orient.select("lo", "hi")
                .join(a_nb, "lo").join(b_nb, "hi")
                .select(F.size(F.array_intersect("nb_lo", "nb_hi"))
                        .alias("c")))
    # three scalar counts stitched as 1-row aggregates (cross join of
    # literal-sized sides — the sanctioned bounded-BNLJ shape). The wedge
    # COUNT uses the closed form sum_lo C(out_deg, 2) — definitionally
    # equal to counting the wedge rows the old plan materialized
    # (out-neighbors of a node have distinct hi_r).
    n_e = und.agg(F.count("*").cast("long").alias("n_edges"))
    n_w = (adj.select(F.size("nb").alias("d"))
           .agg(F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0))
                .cast("long").alias("n_wedges")))
    n_t = per_edge.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                       .alias("n_triangles"))
    return n_e.crossJoin(n_w).crossJoin(n_t)


KCORE_ROUNDS = 3
KCORE_TOP = 25
#: k = ceil(KCORE_FRAC * mean initial degree). The co-purchase graph is
#: near-homogeneous (random-graph-like degree spread), so peeling at
#: k = mean degree CASCADES TO EMPTY within 2 rounds at every fixture SF
#: (measured: sf0.01 survivors 2000 -> 977 -> 2 -> 0); 0.7x sits below
#: the collapse threshold and leaves a non-trivial core while still
#: peeling the tail each round (sf0.001: 200 -> 193 -> 192 -> 192).
KCORE_FRAC = 0.7

_KCORE_DEG = """
      SELECT x, COUNT(*) AS d FROM (
        SELECT a AS x FROM {e} UNION ALL SELECT b AS x FROM {e}
      ) GROUP BY x
"""


@register(
    "copurchase_kcore",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    d0 AS ({_KCORE_DEG.format(e='und')}),
    kk AS (SELECT CAST(CEIL({KCORE_FRAC} * AVG(d)) AS BIGINT) AS k FROM d0),
    k1 AS (SELECT x FROM d0 WHERE d >= (SELECT k FROM kk)),
    e1 AS (SELECT a, b FROM und
           WHERE a IN (SELECT x FROM k1) AND b IN (SELECT x FROM k1)),
    d1 AS ({_KCORE_DEG.format(e='e1')}),
    k2 AS (SELECT x FROM d1 WHERE d >= (SELECT k FROM kk)),
    e2 AS (SELECT a, b FROM e1
           WHERE a IN (SELECT x FROM k2) AND b IN (SELECT x FROM k2)),
    d2 AS ({_KCORE_DEG.format(e='e2')}),
    k3 AS (SELECT x FROM d2 WHERE d >= (SELECT k FROM kk)),
    e3 AS (SELECT a, b FROM e2
           WHERE a IN (SELECT x FROM k3) AND b IN (SELECT x FROM k3)),
    d3 AS ({_KCORE_DEG.format(e='e3')})
    SELECT x AS part, CAST(d AS BIGINT) AS core_degree
    FROM d3 WHERE d >= (SELECT k FROM kk)
    ORDER BY d DESC, x ASC LIMIT {KCORE_TOP}
    """,
    tags=("graph", "join"),
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling of the co-purchase graph: k is set to
    ceil({KCORE_FRAC} x mean degree) of the INITIAL graph (scale-adaptive
    — a fixed absolute k is vacuous on a dense small graph and never binds
    on a sparse big one; see KCORE_FRAC for why the fraction sits below
    1.0), then {KCORE_ROUNDS} peel rounds each drop nodes whose
    CURRENT degree is below k together with their edges; output is the
    top-{KCORE_TOP} surviving nodes by final in-core degree.

    The iterative-op discipline of ``_pagerank`` (fixed rounds => the
    DuckDB oracle unrolls the identical peels as CTEs, giving an exact
    value-hash row on an iterative graph algorithm). Scale shape: each
    round shuffles a node-sized degree aggregate plus two LEFT SEMI joins
    keyed on the edge endpoints — never the adjacency materialized per
    node, and each round MATERIALIZES its shrinking edge set and releases
    the previous round's (the Pregel/GraphX frontier discipline). The
    lazy alternative — carrying the whole loop as one plan — triples the
    lineage per round (``edges`` feeds the degree aggregate AND both semi
    joins), i.e. 3^rounds plan copies, which was measured OOM-ing a
    default-1g-driver session at task-serialization time. k is a 1-row
    driver materialization, so no per-round scalar subplan either."""
    from ..plans.registry import unpersist_any
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-array pair expansion (copurchase_edges): no orderkey self-join.
    # cache: the k scalar, the initial-degree table, and round 1 read it
    und = copurchase_edges(li).cache()

    def degrees(e: DataFrame) -> DataFrame:
        return (e.select(F.col("a").alias("x"))
                .unionAll(e.select(F.col("b").alias("x")))
                .groupBy("x").agg(F.count("*").alias("d")))

    # the initial degree table feeds BOTH the k scalar and round 1's keep
    # set — cache it so the union+groupBy over the full edge list runs
    # once, not once per consumer (the k collect used to be an extra pass)
    d0 = degrees(und).cache()
    k = d0.agg(F.ceil(F.lit(KCORE_FRAC) * F.avg("d"))
               .cast("long").alias("k")).collect()[0]["k"]
    klit = F.lit(k).cast("long")
    edges, live = und, und  # `live` = the one round pin currently held
    for rnd in range(KCORE_ROUNDS):
        keep = ((d0 if rnd == 0 else degrees(edges))
                .where(F.col("d") >= klit).select("x"))
        # localCheckpoint, NOT cache: a cached round keeps the whole
        # 3-references-per-round lineage inside every downstream logical
        # plan, so Catalyst analysis cost grows ~3^round — measured at
        # sf0.1 as rounds of 1.4 / 5.9 / 3.2 s and 5.0 s for the trivial
        # final top-25 (pure planning). The checkpoint flattens each round
        # to a LogicalRDD leaf; eager=True materializes it, so no separate
        # count() action either.
        nxt = (edges
               .join(keep.withColumnRenamed("x", "a"), "a", "left_semi")
               .join(keep.withColumnRenamed("x", "b"), "b", "left_semi")
               .select("a", "b")).localCheckpoint(eager=True)
        unpersist_any(live)
        if rnd == 0:
            d0.unpersist()
        edges = live = nxt
    out = (degrees(edges)
           .where(F.col("d") >= klit)
           .select(F.col("x").alias("part"),
                   F.col("d").cast("long").alias("core_degree"))
           .orderBy(F.desc("core_degree"), F.asc("part"))
           .limit(KCORE_TOP))
    return materialize_release(out, [live])


#: association-rule gates: minimum co-containing orders for a pair to be
#: scored (kills 1-order coincidences), and the report size
MIN_PAIR_SUPPORT = 2
TOP_PAIRS = 20


@register(
    "part_affinity_lift",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM baskets GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.u AS part_a, p.v AS part_b,
           CAST(p.c AS BIGINT) AS n_co_orders,
           ROUND(CAST(p.c * n.n_orders AS DOUBLE)
                 / CAST(ia.c * ib.c AS DOUBLE), 6) AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.u
    JOIN item ib ON ib.l_partkey = p.v
    CROSS JOIN n
    WHERE p.c >= {MIN_PAIR_SUPPORT}
    ORDER BY lift DESC, part_a, part_b
    LIMIT {TOP_PAIRS}
    """,
    tags=("graph", "association", "join"),
)
def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-{TOP_PAIRS} co-purchased part pairs by
    LIFT — P(A,B)/(P(A)·P(B)) over order baskets, the association-rule
    statistic behind "bought together" (lift > 1 = genuinely associated,
    = 1 independent). The statistical companion to the structural
    co-purchase ops (PageRank/triangles/k-core) on the same graph.

    Scale: pair generation is the bounded-fanout basket self-join (TPC-H
    orders hold <= 7 parts -> <= 21 pairs per order, never a hot-key
    explosion); only the 1-row order total carries a broadcast HINT — the
    per-part count tables grow with part cardinality, so their join onto
    the support-filtered pair table is left to AQE's runtime stats (it
    broadcasts them while they fit and falls back to shuffle joins beyond
    any budget, instead of a forced hint OOMing the driver); lift is one
    integer multiply each side of a single IEEE division, so the statistic
    hash-matches without decimal scaffolding; top-{TOP_PAIRS} is
    TakeOrderedAndProject."""
    out, caches = _affinity_lift_plan(spark, sf_dir)
    return materialize_release(out, caches)


def _affinity_lift_plan(spark: SparkSession,
                        sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """Lazy plan for ``part_affinity_lift`` plus its caches (split out so
    plan tests can assert hint discipline on the un-materialized tree)."""
    li = table(spark, sf_dir, "lineitem")
    # one orderkey groupBy builds the distinct basket ARRAYS (collect_set
    # dedupes in the same exchange — subsumes the old pre-distinct pass);
    # the order total, per-part supports, and per-pair supports all derive
    # from this one cached frame, so the basket self-join — the plan's only
    # order-keyed join — disappears (guide §2.4; copurchase_edges shape)
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
               .cache())
    n = baskets.agg(F.count("*").alias("n_orders"))
    item = (baskets.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey").agg(F.count("*").alias("c")))
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS u, y AS v))))")
    pair = (baskets.select(F.explode(pair_expr).alias("kv"))
            .groupBy(F.col("kv.u").alias("u"), F.col("kv.v").alias("v"))
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= MIN_PAIR_SUPPORT))
    ia = item.select(F.col("l_partkey").alias("u"), F.col("c").alias("ca"))
    ib = item.select(F.col("l_partkey").alias("v"), F.col("c").alias("cb"))
    out = (pair.join(ia, "u").join(ib, "v")
           .crossJoin(F.broadcast(n))
           .select(F.col("u").alias("part_a"), F.col("v").alias("part_b"),
                   F.col("c").cast("long").alias("n_co_orders"),
                   F.round((F.col("c") * F.col("n_orders")).cast("double")
                           / (F.col("ca") * F.col("cb")).cast("double"), 6)
                   .alias("lift"))
           .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
           .limit(TOP_PAIRS))
    return out, [baskets]
