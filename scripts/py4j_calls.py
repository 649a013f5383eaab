"""Count the py4j calls each registry query call makes from the driver.

    python scripts/py4j_calls.py --sf-dir <fixture dir, e.g. sf0.001> \
        --queries pipeline_tfidf_kmeans,pipeline_word2vec_dbscan --calls 3

Runs each named query ``--calls`` times on ``get_spark(cpus=--cpus)``, as a
consumer does (build, collect, release the consumer-scoped caches), and
prints one JSON line per call: the py4j calls it made, its wall time and
the package lines that made the most calls. It counts calls of Java
methods (``py4j.java_gateway.JavaMember.__call__``); JVM class lookups and
constructor calls are round trips too but are not counted.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PKG = os.path.join(ROOT, "fts_errors_clustering_spark") + os.sep


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--queries", required=True, help="comma-separated names")
    p.add_argument("--calls", type=int, default=3)
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--top", type=int, default=8)
    args = p.parse_args()

    import py4j.java_gateway as jg

    from fts_errors_clustering_spark.plans.registry import (
        all_queries, release_consumer_caches)
    from fts_errors_clustering_spark.session import get_spark

    spark = get_spark(cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sites: collections.Counter = collections.Counter()
    plain_call = jg.JavaMember.__call__

    def counted_call(self, *a):
        f = sys._getframe(1)
        while f is not None and not f.f_code.co_filename.startswith(PKG):
            f = f.f_back
        sites[f"{os.path.relpath(f.f_code.co_filename, ROOT)}:{f.f_lineno}"
              if f is not None else "(outside the package)"] += 1
        return plain_call(self, *a)

    defs = all_queries()
    for name in args.queries.split(","):
        for i in range(args.calls):
            sites.clear()
            jg.JavaMember.__call__ = counted_call
            t0 = time.perf_counter()
            try:
                defs[name].fn(spark, args.sf_dir).collect()
                release_consumer_caches()
            finally:
                jg.JavaMember.__call__ = plain_call
            print(json.dumps({
                "query": name, "call": i,
                "py4j_calls": sum(sites.values()),
                "wall_s": round(time.perf_counter() - t0, 3),
                "top_sites": sites.most_common(args.top)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
