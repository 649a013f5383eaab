"""Sources: the scan surface of SURVEY.md section 2.1 (S1-S7), Spark-first.

The reference's scans are: a paginated REST fetch landing list-of-pages JSON
(S1/S2, ``/root/reference/code/fetch_issues.py:29-43``), a local JSON loader
that appends page records into pandas rows (S3,
``notebooks/rucio_data_exploration.ipynb:150-167``), Spark ``read.json`` over
date-partitioned HDFS gzip parts with full-scan schema inference (S4,
``notebooks/rucio_data_access_HDFS.ipynb:158``), a py4j filesystem listing
(S5, ``:203-205``), catalog listing (S6, ``:118``) and a plain-text readlines
helper (S7, ``notebooks/word2vec_dbscan_approach.ipynb:68-76``).

Rebuild decisions:
- Parquet first (the driver fixtures are parquet): columnar scan, predicate
  pushdown and column pruning come free from the vectorized reader.
- JSON always with an explicit schema: the reference pays ~90 s/day-partition
  for inference (BASELINE.md row 1); ``read_issues_json``/``read_events_json``
  never infer.
- The S1 REST loop stays a driver-side generator landing JSON for
  ``spark.read.json`` — ingestion at scale is "land to object store, scan
  in parallel", not "stream through the driver".
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: driver-generated fixture tables (TESTDATA.md) — one parquet each.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Issue record, the reference's primary analysis unit (SURVEY.md section 1.1;
#: dtypes observed at ``notebooks/rucio_data_exploration.ipynb:304``).
#: ``last_modified`` is promoted from string to timestamp at ingestion —
#: the reference never parses it (SURVEY.md section 1.2), we do.
ISSUE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("message", T.StringType(), True),
    T.StructField("src_site", T.StringType(), True),
    T.StructField("dst_site", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("amount", T.LongType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("last_modified", T.TimestampType(), True),
])

#: Nested raw-event envelope (SURVEY.md section 1.1 item 2): the Rucio
#: monitoring records are ``{data: struct, metadata: struct}``; we model the
#: fields the pipeline actually touches, all nullable — partial files expose
#: only a subset of columns (``rucio_data_access_HDFS.ipynb:302-304``), which
#: an explicit nullable schema absorbs without a second inference pass.
RAW_EVENT_SCHEMA = T.StructType([
    T.StructField("data", T.StructType([
        T.StructField("event_type", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("src_rse", T.StringType(), True),
        T.StructField("dst_rse", T.StringType(), True),
        T.StructField("activity", T.StringType(), True),
        T.StructField("scope", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("file_size", T.LongType(), True),
        T.StructField("duration", T.LongType(), True),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("submitted_at", T.StringType(), True),
        T.StructField("started_at", T.StringType(), True),
        T.StructField("transferred_at", T.StringType(), True),
        T.StructField("protocol", T.StringType(), True),
        T.StructField("checksum_adler", T.StringType(), True),
    ]), True),
    T.StructField("metadata", T.StructType([
        T.StructField("timestamp", T.LongType(), True),
    ]), True),
])


#: fixture columns written as parquet TIMESTAMP(NANOS) — Spark has no nanos
#: timestamp type, so these are scanned as long (nanosAsLong) and converted
#: to micros timestamps with integer division (2^63 nanos exceeds double's
#: 53-bit mantissa, so the division must stay integral). DuckDB truncates
#: nanos->micros the same way, keeping the oracle bit-identical.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: Resolved tables, one per (application, dir, table): ``spark.read.parquet``
#: lists the files and runs a schema job, and the timestamp rewrites below
#: need a ``dtypes`` analysis, so each relation is resolved once per session
#: and the same UNCACHED frame is returned after that — a replay still
#: measures cold scans. Keyed by ``applicationId``, not ``id(spark)``
#: (object ids are reused after GC, and a new session after ``stop()``
#: must never get an old session's frame); a hit must also belong to the
#: calling session object. Files replaced under a live session are not
#: re-listed until the memo is cleared (``set_table_cache(False)``).
#: Fixed-size LRU: only the tables in use stay resolved.
_TABLE_MEMO_MAX = 64
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

#: Opt-in cross-query table cache (OFF by default). A repeated-analysis
#: session (bench.py's headline run, a notebook hammering the same corpus)
#: re-scans the same base tables dozens of times; pinning them with
#: ``.cache()`` once removes the per-query scan + decode constant. The
#: 100 TB analogue is keeping hot tables in the cluster cache tier —
#: standard for interactive re-analysis, and exactly the "plan
#: reuse/caching across the headline run" lever: asymptotics unchanged,
#: constants paid once. Default-off so the correctness driver's replay
#: measures cold semantics.
_CACHE_TABLES = False


def set_table_cache(enabled: bool) -> None:
    """Pin resolved tables with ``.cache()`` from now on (``True``), or stop
    pinning and clear the resolved-table memo (``False``)."""
    global _CACHE_TABLES
    _CACHE_TABLES = enabled
    if not enabled:
        _TABLE_CACHE.clear()


def _resolve(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # micros fixtures are written isAdjustedToUTC=false, which Spark scans as
    # TIMESTAMP_NTZ; normalize to the session (UTC) TIMESTAMP so downstream
    # epoch math (unix_micros, window(), watermarks) resolves, with values
    # identical to DuckDB's naive read of the same file.
    for c, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, resolved once per session (``_TABLE_CACHE``).
    UTC session tz is (re)pinned on every call so timestamp results collect
    identically to the UTC-naive DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.pop(key, None)
    if df is None or df.sparkSession is not spark:
        df = _resolve(spark, sf_dir, name)
    _TABLE_CACHE[key] = df  # (re)insert last: dict order is LRU order
    while len(_TABLE_CACHE) > _TABLE_MEMO_MAX:
        del _TABLE_CACHE[next(iter(_TABLE_CACHE))]
    if _CACHE_TABLES and not df.is_cached:
        df = df.cache()
    return df


def read_issues_json(spark: SparkSession, path: str) -> DataFrame:
    """S3 rebuild: load the fetcher's list-of-pages layout without inference.

    ``fetch_issues.py:42-43`` dumps ``[[rec, ...], [rec, ...], ...]`` (one
    inner list per REST page). The reference re-loads it with a nested Python
    loop appending pandas rows (O(n^2), 5.6 s for 2,826 rows — BASELINE.md).
    Spark-first: read each page as an array row, ``explode`` to records —
    one distributed job, no driver loop.
    """
    pages = spark.read.schema(
        T.StructType([T.StructField("page", T.ArrayType(ISSUE_SCHEMA), True)])
    ).json(path)
    return pages.select(F.explode("page").alias("r")).select("r.*")


def read_events_json(spark: SparkSession, path: str) -> DataFrame:
    """S4 rebuild: nested raw-event JSON with explicit schema (no inference).

    Mirrors ``spark.read.json('/…/rucio/raw/events/2019/08/15/*')``
    (``rucio_data_access_HDFS.ipynb:158``) minus the 90 s inference scan;
    partition pruning comes from path layout / partition columns, not
    hand-built glob strings.
    """
    return spark.read.schema(RAW_EVENT_SCHEMA).json(path)


def read_text_log(spark: SparkSession, path: str) -> DataFrame:
    """S7 rebuild of ``reader()`` (``word2vec_dbscan_approach.ipynb:68-76``):
    readlines + rstrip as a distributed text scan. Python ``rstrip()`` strips
    ALL trailing whitespace (Spark's rtrim only strips spaces), hence the
    regexp form."""
    return spark.read.text(path).select(
        F.regexp_replace(F.col("value"), r"\s+$", "").alias("line"))


def fetch_pages(get_page, start: int = 1) -> Iterator[list[dict]]:
    """S1 rebuild: the paginated REST loop of ``fetch_issues.py:29-39``,
    decoupled from HTTP (``get_page(n) -> {'results': [...], 'next': url|None}``)
    so it is testable offline. Yields one page of records at a time."""
    n = start
    while True:
        payload = get_page(n)
        yield payload.get("results", [])
        if not payload.get("next"):
            return
        n += 1


def land_pages(pages: Iterable[list[dict]], out_path: str) -> None:
    """S2 rebuild: land fetched pages as JSON-lines (one page-array per line),
    the layout ``read_issues_json`` scans back in parallel."""
    with open(out_path, "w", encoding="utf-8") as fh:
        for page in pages:
            fh.write(json.dumps({"page": page}) + "\n")
