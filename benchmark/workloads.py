"""The benchmark's workloads.

Each workload makes its inputs from the seed, prepares its reference
answers before timing starts, and hands out *rounds*: :meth:`round` lists
the ops of the next round as ``(label, fn)`` pairs, each op a fixed
sequence of calls into the engine's public functions. :meth:`check`
judges one op's output outside the timed window. No check compares
against a stored copy of an earlier output: answers come from DuckDB over
the same files, from the input generator, or from properties the method
must have.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

import inputs
from tracing import Tracer

CLUSTER_FLOWS = ("pipeline_tfidf_kmeans", "pipeline_word2vec_dbscan")
#: documents in the cluster corpus (the sf0.1 fixture has 5,000; see README)
CLUSTER_DOCS = 1_000
#: clustering jobs per cluster round
CLUSTER_ROUND_OPS = 2
#: pipeline_word2vec_dbscan's DBSCAN min_pts
DBSCAN_MIN_PTS = 5
INGEST_PARTS = 8
INGEST_RECORDS_PER_PART = 6_250
#: publishes per ingest round
INGEST_ROUND_OPS = 16


class _Workload:
    def __init__(self, work_dir: str, tracer: Tracer):
        self.in_dir = os.path.join(work_dir, "input")
        self.tracer = tracer
        self.spark = None


class Cluster(_Workload):
    """One op is flow A (tf-idf -> LSA -> K-Means -> external metrics) then
    flow B (word2vec -> kNN knee -> DBSCAN -> cluster summary) over a
    corpus with the sf0.1 fixture's make-up, model cache off; a round is
    two ops."""

    def make_inputs(self, rng) -> None:
        inputs.write_documents(rng, self.in_dir, CLUSTER_DOCS)

    def setup(self, spark) -> None:
        from fts_errors_clustering_spark.operators import (knn, pairwise,
                                                           pipelines)
        from fts_errors_clustering_spark.plans.registry import all_queries
        self.spark = spark
        defs = all_queries()
        self.defs = [defs[q] for q in CLUSTER_FLOWS]
        self.n_kept = duckdb.execute(
            f"SELECT COUNT(*) FROM read_parquet('{self.in_dir}/"
            f"documents.parquet') WHERE length(trim(text)) > 0").fetchone()[0]
        self.first = None
        tr = self.tracer
        for attr, name in (("fit_tfidf", "tfidf.fit"),
                           ("fit_lsa_svd", "tfidf.lsa"),
                           ("fit_kmeans_best", "clustering.kmeans_fit"),
                           ("external_cluster_metrics", "clustering.metrics"),
                           ("fit_word2vec", "clustering.w2v_fit"),
                           ("dbscan_labels", "dbscan.labels")):
            tr.wrap(pipelines, attr, name)
        # imported inside pipeline_word2vec_dbscan at call time
        tr.wrap(pairwise, "topk_candidate_pairs", "pairwise.topk")
        tr.wrap(knn, "knee_epsilon_value", "knn.knee")

    def run_query(self, d):
        """One registry query as a consumer runs it: build, collect, then
        acknowledge the query's consumer-scoped caches."""
        from fts_errors_clustering_spark.cli import _canon
        from fts_errors_clustering_spark.plans.registry import \
            release_consumer_caches
        tr = self.tracer
        with tr.span("registry.build"):
            df = d.fn(self.spark, self.in_dir)
        with tr.span("registry.collect"):
            rows = df.collect()
        tr.catalyst(df)
        with tr.span("registry.release"):
            release_consumer_caches()
        return _canon(df.columns, rows)

    def round(self):
        return [("job", lambda: tuple(self.run_query(d) for d in self.defs))
                ] * CLUSTER_ROUND_OPS

    def check(self, label, out) -> bool:
        if self.first is None:
            self.first = out
        return (out == self.first and self._check_a(out[0])
                and self._check_b(out[1]))

    @staticmethod
    def _check_a(c) -> bool:
        cols, rows = c
        if len(rows) != 1:
            return False
        r = dict(zip(cols, (v[1] for v in rows[0])))
        h, comp, v = r["homogeneity"], r["completeness"], r["v_measure"]
        return (1 <= r["n_clusters"] <= 10
                and all(0.0 <= x <= 1.0 for x in (h, comp, v))
                and abs(v - (2 * h * comp / (h + comp) if h + comp else 0.0))
                <= 2e-6
                and -1.0 <= r["ari"] <= 1.0)

    def _check_b(self, c) -> bool:
        cols, rows = c
        recs = [dict(zip(cols, (v[1] for v in row))) for row in rows]
        clusters = [r["cluster"] for r in recs]
        return (sum(r["n_docs"] for r in recs) == self.n_kept
                and all(k == -1 or k >= 0 for k in clusters)
                and len(set(clusters) - {-1})
                <= self.n_kept // DBSCAN_MIN_PTS
                and all(0.0 <= r["mean_similarity"] <= 100.0 for r in recs))


class Ingest(_Workload):
    """One op reads the raw nested JSON.gz parts, keeps the failure events,
    flattens ``data.*``, publishes them as the next versioned parquet
    snapshot and reads the snapshot back; a round is sixteen ops."""

    def make_inputs(self, rng) -> None:
        self.raw_dir = os.path.join(self.in_dir, "raw")
        self.pub_root = os.path.join(self.in_dir, "published")
        self.gen_failed, self.gen_bytes = inputs.write_raw_events(
            rng, self.raw_dir, INGEST_PARTS, INGEST_RECORDS_PER_PART)

    def setup(self, spark) -> None:
        self.spark = spark
        types = ", ".join(f"'{t}'" for t in inputs.FAILED_TYPES)
        self.raw_answer = duckdb.execute(
            f"SELECT COUNT(*), SUM(data.bytes) FROM read_json("
            f"'{self.raw_dir}/*.json.gz') WHERE data.event_type IN ({types})"
        ).fetchone()
        self.next_version = 1

    def round(self):
        return [("publish", self.op)] * INGEST_ROUND_OPS

    def op(self):
        from fts_errors_clustering_spark.sources.readers import \
            read_events_json
        from fts_errors_clustering_spark.sources.sinks import (
            publish_versioned_parquet, read_versioned)
        tr = self.tracer
        with tr.span("readers.json"):
            raw = read_events_json(self.spark, self.raw_dir)
        failed = (raw.where(F.col("data.event_type").isin(*inputs.FAILED_TYPES))
                  .select("data.*"))
        with tr.span("sinks.publish"):
            version = publish_versioned_parquet(failed, self.pub_root)
        if tr.enabled:
            files = [f for f in os.scandir(
                os.path.join(self.pub_root, f"v={version}"))
                if f.name.endswith(".parquet")]
            tr.add("sinks.files_written", len(files))
            tr.add("sinks.bytes_written", sum(f.stat().st_size for f in files))
        with tr.span("sinks.read_back"):
            back = read_versioned(self.spark, self.pub_root).agg(
                F.count("*").alias("n"), F.sum("bytes").alias("bytes"))
            row = back.collect()[0]
        return version, row["n"], row["bytes"]

    def check(self, label, out) -> bool:
        version, n, nbytes = out
        expected_version, self.next_version = (self.next_version,
                                               self.next_version + 1)
        snap = duckdb.execute(
            f"SELECT COUNT(*), SUM(bytes) FROM read_parquet("
            f"'{self.pub_root}/v={version}/*.parquet')").fetchone()
        return (version == expected_version
                and (n, nbytes) == (self.gen_failed, self.gen_bytes)
                and snap == self.raw_answer == (n, nbytes))


WORKLOADS = {"cluster": Cluster, "ingest": Ingest}
