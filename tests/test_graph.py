"""PageRank invariants: probability-mass conservation, positivity,
determinism — the properties the unrolled-CTE oracle can't see by itself
(it pins values; these pin the algebra on arbitrary inputs)."""

from __future__ import annotations

import datetime as dt
import decimal
import os

from pyspark.sql import functions as F

from fts_errors_clustering_spark.operators.graph import (_pagerank,
                                                         materialize_release)

from .conftest import SF_SMALL  # noqa: F401  (fixture parity w/ suite style)


def _ring_edges(spark, n=50):
    rows = []
    for i in range(n):
        rows.append((i, (i + 1) % n, 1.0))
        rows.append(((i + 1) % n, i, 1.0))
    return spark.createDataFrame(rows, "u long, v long, w double")


def test_pagerank_mass_and_positivity(spark):
    edges = _ring_edges(spark)
    r = _pagerank(edges, damping=0.85, n_iter=5).collect()
    total = sum(x.r for x in r)
    assert abs(total - 1.0) < 1e-9          # symmetric graph: no mass leak
    assert all(x.r > 0 for x in r)
    # ring symmetry: every node identical rank
    vals = {round(x.r, 12) for x in r}
    assert len(vals) == 1


def test_pagerank_deterministic_and_star_shape(spark):
    # star: hub 0 <-> leaves 1..20; hub must outrank every leaf
    rows = []
    for i in range(1, 21):
        rows.append((0, i, 1.0))
        rows.append((i, 0, 1.0))
    edges = spark.createDataFrame(rows, "u long, v long, w double")
    r1 = {x.id: x.r for x in _pagerank(edges, 0.85, 5).collect()}
    r2 = {x.id: x.r for x in _pagerank(edges, 0.85, 5).collect()}
    assert r1 == r2
    hub = r1[0]
    assert all(hub > r1[i] for i in range(1, 21))


def test_pagerank_rejects_dangling_nodes(spark):
    """_pagerank's totality (base rank for inbound-less nodes) matches the
    unrolled-CTE oracle pattern only on graphs where every edge target is
    also a source; the helper must refuse asymmetric graphs loudly rather
    than silently disagree with the oracle pattern on reuse."""
    import pytest

    from fts_errors_clustering_spark.operators.graph import _pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)],  # 3 is a pure sink -> dangling
        "u long, v long, w double")
    with pytest.raises(ValueError, match="dangling"):
        _pagerank(edges, 0.85, 3)

def test_triangle_count_vs_known_graph(spark):
    """triangle_stats on a known graph: K4 (4 triangles) + a pendant edge
    (none) + a disjoint C5 ring (none) -> exactly 4; wedge count equals
    the closed-form sum over the oriented out-degrees."""
    import itertools
    from fts_errors_clustering_spark.operators.graph import triangle_stats
    edges = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    edges.append((3, 10))                      # pendant
    ring = [(20 + i, 20 + (i + 1) % 5) for i in range(5)]
    edges += [(min(a, b), max(a, b)) for a, b in ring]
    und = spark.createDataFrame(sorted(set(edges)), "a long, b long")
    row = triangle_stats(und).collect()[0]
    assert row.n_edges == len(set(edges))
    assert row.n_triangles == 4
    assert row.n_wedges >= row.n_triangles

def test_kcore_peels_to_clique(spark):
    """Adaptive-k peeling on K5 + a pendant chain: avg degree 3 ->
    k = ceil(0.7 * 3) = 3, the chain peels in round one, the clique
    survives all rounds at degree 4."""
    import itertools
    from pyspark.sql import functions as F
    from fts_errors_clustering_spark.operators import graph as G
    edges = [(a, b) for a, b in itertools.combinations(range(5), 2)]
    edges += [(10, 11), (11, 12)]
    und = spark.createDataFrame(edges, "a long, b long")

    # replay the registered query's loop body on a hand-built graph
    def degrees(e):
        return (e.select(F.col("a").alias("x"))
                .unionAll(e.select(F.col("b").alias("x")))
                .groupBy("x").agg(F.count("*").alias("d")))
    kdf = degrees(und).agg(F.ceil(F.lit(G.KCORE_FRAC) * F.avg("d"))
                           .cast("long").alias("k"))
    assert kdf.first().k == 3
    e = und
    for _ in range(G.KCORE_ROUNDS):
        keep = (degrees(e).crossJoin(F.broadcast(kdf))
                .where(F.col("d") >= F.col("k")).select("x"))
        e = (e.join(keep.withColumnRenamed("x", "a"), "a", "left_semi")
              .join(keep.withColumnRenamed("x", "b"), "b", "left_semi")
              .select("a", "b"))
    rows = degrees(e).collect()
    assert sorted(r.x for r in rows) == [0, 1, 2, 3, 4]
    assert all(r.d == 4 for r in rows)

def test_triangle_count_random_graph_bruteforce(spark):
    """Degree-ordered count equals the O(n^3) brute force on a seeded
    random graph — edge cases (hubs, isolated nodes, near-cliques) land
    here without hand-construction."""
    import itertools
    import random
    from fts_errors_clustering_spark.operators.graph import triangle_stats
    rng = random.Random(7)
    n = 40
    edges = sorted((a, b) for a, b in itertools.combinations(range(n), 2)
                   if rng.random() < 0.2)
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)
    want = sum(1 for a, b, c in itertools.combinations(range(n), 3)
               if b in adj[a] and c in adj[a] and c in adj[b])
    und = spark.createDataFrame(edges, "a long, b long")
    row = triangle_stats(und).collect()[0]
    assert row.n_triangles == want
    assert row.n_edges == len(edges)

def test_kcore_monotone_in_k(spark):
    """Peeling invariant on a seeded random graph: for the SAME number of
    rounds, the k+1 survivor set is a subset of the k survivor set (peeling
    pressure only removes nodes)."""
    import itertools
    import random
    from pyspark.sql import functions as F
    from fts_errors_clustering_spark.operators import graph as G
    rng = random.Random(11)
    n = 40
    edges = sorted((a, b) for a, b in itertools.combinations(range(n), 2)
                   if rng.random() < 0.25)
    und0 = spark.createDataFrame(edges, "a long, b long")

    def degrees(e):
        return (e.select(F.col("a").alias("x"))
                .unionAll(e.select(F.col("b").alias("x")))
                .groupBy("x").agg(F.count("*").alias("d")))

    def survivors(k):
        e = und0
        for _ in range(G.KCORE_ROUNDS):
            keep = degrees(e).where(F.col("d") >= k).select("x")
            e = (e.join(keep.withColumnRenamed("x", "a"), "a", "left_semi")
                  .join(keep.withColumnRenamed("x", "b"), "b", "left_semi")
                  .select("a", "b"))
        return {r.x for r in degrees(e).collect()}

    s_lo, s_hi = survivors(5), survivors(6)
    assert s_lo, "k=5 core unexpectedly empty on this graph"
    assert s_hi <= s_lo


def _persist_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_graph_queries_leave_no_persistent_rdds(spark):
    """Cache hygiene: every registered graph query pins intermediates only
    for the span of its own materialization (materialize_release) — running
    them back-to-back in one session must leave the persistent-RDD map
    exactly as found (no .cache() leak, no lingering lazy localCheckpoint),
    or a long-lived service session accumulates node/edge-sized blocks
    until LRU eviction starts thrashing."""
    from fts_errors_clustering_spark.plans.registry import all_queries
    defs = all_queries()
    before = _persist_ids(spark)
    for q in ("part_copurchase_pagerank", "copurchase_triangle_count",
              "copurchase_kcore", "part_affinity_lift"):
        out = defs[q].fn(spark, SF_SMALL)
        assert out.collect()  # bounded local relation; driver-style consume
        assert _persist_ids(spark) == before, f"{q} leaked persistent RDDs"


def _python_worker_cpu_s() -> float:
    """CPU seconds (own + reaped children) of the Python processes below
    this one: the PySpark daemon and its workers under the driver JVM."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        lp, rp = stat.index("("), stat.rindex(")")
        rest = stat[rp + 2:].split()  # rest[1] = ppid, rest[11:15] = times
        kids.setdefault(int(rest[1]), []).append(
            (int(pid), stat[lp + 1:rp], rest))
    total, stack = 0.0, [os.getpid()]
    while stack:
        for pid, comm, rest in kids.get(stack.pop(), []):
            stack.append(pid)
            if comm.startswith("python"):
                total += sum(int(x) for x in rest[11:15]) / tick
    return total


def test_materialize_release_rehydrates_in_jvm(spark):
    """``materialize_release`` must return the same schema and rows as the
    Python re-wrap ``createDataFrame(collected_rows, schema)`` over every
    column type the engine emits — including a null struct whose fields
    are declared non-null — as a ``LocalRelation`` whose consumption runs
    no job and no Python worker, with its caches released."""
    schema = ("i int, b bigint, d double, s string, ts timestamp, dd date, "
              "dec decimal(12,3), arr array<int>, st struct<x:int,y:string>, "
              "m map<string,int>, flag boolean")
    rows = [(1, None, 1.5, "a", dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
             dt.date(2024, 1, 2), decimal.Decimal("1.250"), [1, None, 3],
             (1, "q"), {"k": 1}, True),
            (None, 7, -0.25, None, None, None, None, None, None, None,
             None)]
    df = (spark.createDataFrame(rows, schema)
          .withColumn("nn", F.when(F.col("i").isNotNull(),
                                   F.struct(F.lit(1).alias("p"),
                                            F.lit("z").alias("q"))))
          .cache())
    assert not df.schema["nn"].dataType.fields[0].nullable
    want = spark.createDataFrame(df.collect(), df.schema)

    out = materialize_release(df, [df])
    assert not df.is_cached
    assert (out._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LocalRelation")
    assert out.schema == want.schema == df.schema

    sc = spark.sparkContext
    sc.setJobGroup("materialize-release-consume", "rehydration test")
    try:
        cpu0 = _python_worker_cpu_s()
        got = out.collect()
        cpu = _python_worker_cpu_s() - cpu0
        jobs = sc.statusTracker().getJobIdsForGroup(
            "materialize-release-consume")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == want.collect()
    assert jobs == []
    assert cpu <= 0.01, cpu
