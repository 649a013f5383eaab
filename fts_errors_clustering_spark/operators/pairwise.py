"""Broadcast-matrix pairwise-distance kernels (Arrow-batched numpy).

The naive exact form of the eps-join (M18 step 1) and kNN (M16) is a
self-cross-join with a per-pair distance *expression*; at 64 dims the
generated Java for that expression blows the 64 KB JIT method limit
(whole-stage codegen falls back to interpreted mode) and the join becomes
the whole runtime — ~134 s of a 135 s DBSCAN run at sf0.1. The reference
pays nothing here because it holds a dense numpy matrix on one node
(``/root/reference/notebooks/word2vec_dbscan_approach.ipynb:172-189``).

This module is the Spark-shaped equivalent of that dense-matrix speed:

- one side of the pair space is collected once, broadcast to executors as a
  numpy matrix (same budget class as a broadcast-hash join build side —
  fine to ~10^6 x 64 f32; beyond that, the LSH generator in
  ``operators/similarity.py`` is the candidate source and this kernel
  re-ranks per bucket);
- the streaming side flows through ``mapInPandas`` in Arrow batches, so the
  distance math is BLAS (one GEMM per batch-chunk), never per-row Python;
- GEMM computes ``||a||^2 + ||b||^2 - 2ab`` which loses a few low bits to
  cancellation, so every candidate that matters is RE-CHECKED with the
  difference form ``sum((a-b)^2)`` before it can cross a threshold — the
  GEMM is only ever a pruner, with a relative guard band wide enough
  (1e-6) to cover its error (~1e-12).

Exactness contract: emitted eps-pair *memberships* are exact w.r.t.
real-number semantics up to float summation order — the difference-form
numpy sum can disagree with a strictly left-to-right SQL sum in the last
bits, which flips a comparison only if a pair sits within ~1e-12 of the
threshold (asserted not to happen on the fixtures in tests/test_dbscan.py).
The top-k kernel's GEMM pass only prunes to a candidate superset; the
distances it emits and ranks by are the left-to-right fold of
``functions/vectors.euclidean`` (float32 widened to float64, ``acc += d*d``
in dimension order, then sqrt), so they are bit-identical to the
oracle's explicit SQL chain and feed value-hashed output directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["eps_pairs_broadcast", "spread", "topk_candidate_pairs"]

#: cap on floats per GEMM output chunk (rows_in_batch x chunk) ~ 64 MB
_CHUNK_BUDGET = 8 * 1024 * 1024


#: collected-kernel cache keyed by (session id, logical-plan semantic hash):
#: a repeated-analysis session (bench, notebook) re-runs kernels over the
#: SAME side table many times; the driver-side toPandas() collect AND the
#: executor-side broadcast are the per-invocation constants, so the cache
#: holds the sc.broadcast handle itself. LRU-bounded: each entry is
#: broadcast-hash-join-class (~10^6 x 64 f64 max by the module contract),
#: so a handful of LIVE broadcasts is the same memory class Spark's own
#: join build-side cache occupies; evicted entries are unpersist()ed so a
#: long-lived session cannot accumulate executor-side broadcast blocks
#: (the round-2 leak: one never-released broadcast per kernel call).
_CACHE_MAX = 4
_MATRIX_CACHE: dict[tuple[str, int], object] = {}


def _broadcast_side(emb: DataFrame, id_col: str, vec_col: str):
    """Collect-once + broadcast-once (ids, matrix) for the kernel side
    table, LRU-cached per (session, plan semantics). Returns the live
    Broadcast handle and the side's row count (kept driver-side: reading
    ``Broadcast.value`` on the driver re-loads the pickled matrix)."""
    spark = emb.sparkSession
    proj = emb.select(id_col, vec_col)
    try:
        # applicationId (not id()) — object ids are reused after GC and
        # would alias cache keys across sessions
        key = (spark.sparkContext.applicationId, proj.semanticHash())
    except Exception:  # noqa: BLE001 — hash unavailable -> no caching
        key = None
    if key is not None and key in _MATRIX_CACHE:
        hit = _MATRIX_CACHE.pop(key)
        _MATRIX_CACHE[key] = hit  # refresh recency (dict order = LRU order)
        return hit
    pdf = proj.toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if len(pdf) == 0:
        mat = np.zeros((0, 1), dtype=np.float64)
    else:
        mat = np.array(pdf[vec_col].to_list(), dtype=np.float64)
    entry = (spark.sparkContext.broadcast((ids, mat)), len(ids))
    if key is None:
        return entry
    _MATRIX_CACHE[key] = entry
    while len(_MATRIX_CACHE) > _CACHE_MAX:
        old, _ = _MATRIX_CACHE.pop(next(iter(_MATRIX_CACHE)))
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return entry


#: pairs per streaming-side task. Measured on a 4-core host (local[4],
#: one BLAS thread per worker): the kernel's numpy work is ~0.025 CPU-s at
#: 1,000 x 32 embeddings (10^6 pairs) and ~0.5 CPU-s at 2^24 pairs, while
#: each extra Python task costs ~0.15-0.2 CPU-s whatever its rows —
#: topk_candidate_pairs plus its then-separate exact re-rank over
#: 1,000 x 32 took 1.4-2.1 CPU-s per call in 1 task and 2.7-2.9 CPU-s
#: spread over 4. At 2^24 pairs a task's work outweighs its start-up.
PAIRS_PER_TASK = 1 << 24


def spread(df: DataFrame, target: int) -> DataFrame:
    """``df`` repartitioned to ``target`` partitions when it has fewer, else
    ``df`` itself (no shuffle). For per-row CPU-heavy stages whose input can
    arrive underpartitioned — a 1-2 file parquet scan or a cached
    ml-transform output keeps that file count through every narrow
    operator and broadcast join, so the stage would run on that many
    cores. At scale the input already has the partitions and this is a
    no-op."""
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _stream_side(emb: DataFrame, id_col: str, vec_col: str,
                 n_b: int) -> DataFrame:
    """The kernels' streaming side, spread over ``min(defaultParallelism,
    ceil(n_b^2 / PAIRS_PER_TASK))`` tasks: sized from the broadcast side's
    row count ``n_b`` (the streaming side is the same table, so n_b^2 is
    the pair count), which the driver already holds — no extra job. A
    small input keeps its partitioning."""
    target = min(emb.sparkSession.sparkContext.defaultParallelism,
                 (n_b * n_b + PAIRS_PER_TASK - 1) // PAIRS_PER_TASK)
    return spread(emb.select(id_col, vec_col), target)


def eps_pairs_broadcast(emb: DataFrame, id_col: str, vec_col: str,
                        eps: float) -> DataFrame:
    """Directed exact eps-neighbor pairs (a, b), a != b,
    ||va - vb||^2 <= eps^2. Same output as the cross-join form, at
    dense-BLAS speed."""
    bc, n_b = _broadcast_side(emb, id_col, vec_col)
    eps2 = float(eps) * float(eps)
    band = 1e-6 * max(eps2, 1.0)
    guard = eps2 + band

    def gen(batches):
        b_ids, B = bc.value
        if len(b_ids) == 0:
            return
        nb2 = np.einsum("ij,ij->i", B, B)
        buf = None  # reused GEMM output (see _reuse_note below)
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            na2 = np.einsum("ij,ij->i", A, A)
            out_a, out_b = [], []
            step = max(1, _CHUNK_BUDGET // max(len(A), 1))
            if buf is None or buf.shape[0] < len(A) or buf.shape[1] != step:
                buf = np.empty((len(A), step))
            for s in range(0, len(B), step):
                Bc, bc_ids = B[s:s + step], b_ids[s:s + step]
                if len(bc_ids) == step:
                    g = buf[:len(A)]      # row slice stays C-contiguous
                    np.dot(A, Bc.T, out=g)
                else:                     # tail chunk (once): plain alloc
                    g = np.dot(A, Bc.T)
                g *= -2.0
                g += na2[:, None]
                g += nb2[s:s + step][None, :]
                ai, bi = np.nonzero(g <= guard)
                if ai.size:
                    # band re-check: only pairs inside the guard band around
                    # eps2 need the difference form — GEMM error is ~1e-12
                    # relative vs a 1e-6 band, so clear-in pairs are exact
                    # already. The full-candidate 2-D gather this replaces
                    # is first-touch-pagefault bound (~30 MB/s measured:
                    # 32 s for 4M x 32 f64) and was the entire kernel cost.
                    gv = g[ai, bi]
                    keep = gv <= eps2 - band
                    borderline = ~keep & (gv <= guard)
                    if borderline.any():
                        ab, bb = ai[borderline], bi[borderline]
                        d2 = np.einsum("ij,ij->i", A[ab] - Bc[bb],
                                       A[ab] - Bc[bb])
                        keep[borderline] = d2 <= eps2
                    keep &= a_ids[ai] != bc_ids[bi]
                    out_a.append(a_ids[ai[keep]])
                    out_b.append(bc_ids[bi[keep]])
            if out_a:
                yield pd.DataFrame({
                    "a": np.concatenate(out_a),
                    "b": np.concatenate(out_b)})

    return _stream_side(emb, id_col, vec_col, n_b).mapInPandas(
        gen, "a long, b long")


def topk_candidate_pairs(emb: DataFrame, id_col: str, vec_col: str,
                         k: int) -> DataFrame:
    """Exact k nearest neighbours ``(a, b, dist)`` of every point a (self
    excluded): the first k of a's neighbours ordered by ``(dist, b)``, the
    rows ``ROW_NUMBER() OVER (PARTITION BY a ORDER BY dist, b) <= k`` of
    the full pair table would keep, emitted per a in that order.

    One task does the whole top-k for its rows: a GEMM pass prunes n-1
    candidates per point to ~k (every pair within a slack band of the
    k-th smallest GEMM distance, which covers GEMM error and ties), then
    each candidate's distance is the ``euclidean`` fold — float64, ``acc
    += d*d`` in dimension order, sqrt — bit-identical to the HOF column
    expression and the oracle's SQL chain, and the candidates are ranked
    by it. Because a's rows come out in ``(dist, b)`` order from one
    task, a per-a sum over them (a partial aggregate adds a key's rows in
    input order) is the same double the window plan's sum was."""
    bc, n_b = _broadcast_side(emb, id_col, vec_col)
    k = int(k)

    def gen(batches):
        b_ids, B = bc.value
        if len(b_ids) < 2 or k < 1:  # no non-self neighbor can exist
            return
        nb2 = np.einsum("ij,ij->i", B, B)
        col_of = {int(v): i for i, v in enumerate(b_ids)}
        step = max(1, _CHUNK_BUDGET // max(len(b_ids), 1))
        # _reuse_note: buffers are allocated once per worker and reused
        # across chunks — fresh large allocations first-touch page-fault at
        # ~30 MB/s on some hosts (measured; SCALE.md round 2g), which made
        # the buffer churn, not the BLAS, the kernel's cost. scratch holds
        # the in-place partition copy (np.partition has no out=).
        buf = np.empty((step, len(b_ids)))
        scratch = np.empty_like(buf)
        for pdf in batches:
            if not len(pdf):
                continue
            A_full = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            ids_full = pdf[id_col].to_numpy(dtype=np.int64)
            for s in range(0, len(A_full), step):
                A, a_ids = A_full[s:s + step], ids_full[s:s + step]
                na2 = np.einsum("ij,ij->i", A, A)
                g = buf[:len(A)]
                np.dot(A, B.T, out=g)
                g *= -2.0
                g += na2[:, None]
                g += nb2[None, :]
                for i, aid in enumerate(a_ids):
                    j = col_of.get(int(aid))
                    if j is not None:
                        g[i, j] = np.inf
                kk = min(k, g.shape[1] - 1)
                sc = scratch[:len(A)]
                np.copyto(sc, g)
                sc.partition(kk - 1, axis=1)
                kth = sc[:, kk - 1]
                thresh = kth * (1.0 + 1e-9) + 1e-9
                ai, bi = np.nonzero(g <= thresh[:, None])
                acc = np.zeros(len(ai))
                for d in range(A.shape[1]):  # dimension order == SQL fold
                    diff = A[ai, d] - B[bi, d]
                    acc += diff * diff
                dist = np.sqrt(acc)
                o = np.lexsort((b_ids[bi], dist, ai))
                ai, bi, dist = ai[o], bi[o], dist[o]
                # rank within a's run of the (a, dist, b)-sorted candidates
                keep = (np.arange(len(ai)) - np.searchsorted(ai, ai)) < k
                yield pd.DataFrame({"a": a_ids[ai[keep]],
                                    "b": b_ids[bi[keep]],
                                    "dist": dist[keep]})

    return _stream_side(emb, id_col, vec_col, n_b).mapInPandas(
        gen, "a long, b long, dist double")
