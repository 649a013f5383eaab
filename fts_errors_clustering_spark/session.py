"""SparkSession factory tuned for the test/bench environment.

The reference creates its session at
``/root/reference/notebooks/rucio_data_access_HDFS.ipynb:62``
(``SparkSession.builder.master("local[*]")``) with no further tuning and pays
for it (schema inference, 200 default shuffle partitions). Here we pin the
configs that matter for a local[N] run and for DuckDB-oracle comparability:

- AQE on: runtime re-planning (partition coalescing, skew-join splitting)
  is the 100 TB safety net for every shuffle this engine emits.
- session timezone UTC: parquet timestamps must collect identically in
  Spark and DuckDB (which is UTC-naive).
- Arrow on: every toPandas()/pandas_udf boundary is vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: shuffle-partition sizing targets (guide §2.2): aim for partitions in
#: the ~64 MB range over the DECOMPRESSED working set (parquet on these
#: fixtures decompresses ~6x), capped at 3x the core count — the cluster
#: posture the module docstring always documented ("~2-3x total cores,
#: AQE coalesces the rest") — and floored at 8 so tiny corpora keep
#: enough tasks for CPU-dense stages (md5/levenshtein chains whose cost
#: is per row, not per byte). Everything env-overridable.
_SHUFFLE_TARGET_BYTES = 64 << 20
_PARQUET_DECOMPRESS_FACTOR = 6


def _dir_bytes(path: str) -> int:
    total = 0
    try:
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def data_sized_shuffle_partitions(cpus: int) -> int:
    """Derive ``spark.sql.shuffle.partitions`` from the INPUT SIZE instead
    of the core count. The r10 scaling block showed seven queries running
    FASTER at local[8] than local[32] on the same sf0.1 data: with the old
    ``max(8, cpus)`` the task count per shuffle scaled with cores while
    the work did not, so the 32-core configuration paid 4x the scheduling
    for nothing (measured: copurchase_kcore 5.01 s at 32 partitions vs
    2.71 s at 8, same 32 cores). Partitions are a function of data volume;
    the core count only caps them (a shuffle never needs more concurrent
    tasks than ~3x the slots AQE can fill)."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    raw = _dir_bytes(os.environ.get("SPARK_GRAFT_SF_DIR",
                                    "/root/testdata/sf0.1"))
    est = raw * _PARQUET_DECOMPRESS_FACTOR
    return int(max(8, min(3 * cpus, est // _SHUFFLE_TARGET_BYTES)))


def get_spark(app_name: str = "fts-errors-clustering-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = (shuffle_partitions
                          or data_sized_shuffle_partitions(cpus))
    # AQE partition-coalescing knobs stay env-overridable. NOTE:
    # parallelismFirst=false (the usually-recommended cluster setting) was
    # MEASURED AND REJECTED here: coalescing the post-shuffle stages of
    # the md5/array-intersect-dense queries to one bytes-sized partition
    # serialized their compute (copurchase_kcore 4.2 -> 7.4 s,
    # ngram_jaccard_pairs 2.6 -> 4.2 s at local[32]) — these stages are
    # CPU-bound per ROW, not per byte, so bytes-based coalescing starves
    # them. The data-sized shuffle_partitions above fixes the task-count
    # overhead at its source instead.
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m")
    par_first = os.environ.get("SPARK_GRAFT_COALESCE_PARALLELISM_FIRST",
                               "true")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                par_first)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Janino class cache, static (builder-only) so it cannot move to
        # tune_session. One warm cluster op (flow A + flow B at 1,000 docs)
        # needs 162 generated classes and one bench.py HEADLINE pass
        # ~2.4k; at Spark's default of 100 entries every op after the
        # first recompiled ~150 classes and HotSpot re-JITted them. A
        # session created by an external driver (the vanilla-session
        # replay) keeps the default of 100.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # one BLAS thread per Python worker: with `cpus` workers already
        # running data-parallel, nested OpenBLAS pools (workers x cores
        # threads) thrash the scheduler — the broadcast-kernel GEMMs in
        # operators/pairwise.py get their parallelism from partitions, not
        # from BLAS. Driver-side numpy (dbscan driver-kernel tier) is NOT
        # affected: executorEnv applies to workers only.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable invariants to an externally created session.

    The driver hands us its own SparkSession for ``entry``/``queries``; the
    only config our operators *require* is the UTC session timezone (so
    timestamp results agree with the UTC-naive DuckDB oracle). Everything
    else is plan-level and works on any session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
