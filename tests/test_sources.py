"""Source-layer tests (SURVEY.md S1-S7): REST page loop, landed-JSON scan
with explicit schema (no inference), nested raw-event JSON, text logs."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F

from fts_errors_clustering_spark.sources.readers import (fetch_pages,
                                                         land_pages,
                                                         read_events_json,
                                                         read_issues_json,
                                                         read_text_log)

from .conftest import SF_SMALL

TMP = "/root/repo/.tmp"


def test_fetch_pages_pagination():
    pages = {
        1: {"results": [{"id": 1}, {"id": 2}], "next": "page2"},
        2: {"results": [{"id": 3}], "next": None},
    }
    got = list(fetch_pages(lambda n: pages[n]))
    assert got == [[{"id": 1}, {"id": 2}], [{"id": 3}]]


def test_issues_roundtrip(spark):
    """S1->S2->S3: land pages, scan back via explode — one row per issue,
    no pandas append loop, no schema inference."""
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "issues.json")
    recs = [
        {"id": 1, "message": "SOURCE [70] refused", "src_site": "A",
         "dst_site": "B", "category": "12", "amount": 5,
         "type": "transfer-failure", "status": "New",
         "last_modified": "2019-08-15T01:00:05.755828+02:00"},
        {"id": 2, "message": "", "src_site": "A", "dst_site": "C",
         "category": "13", "amount": 1, "type": "deletion-failure",
         "status": "New", "last_modified": "2019-08-15T02:00:00+02:00"},
    ]
    land_pages([recs[:1], recs[1:]], path)
    df = read_issues_json(spark, path)
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].message.startswith("SOURCE")
    # last_modified parsed to a real (UTC) timestamp, not kept as string
    assert rows[1].last_modified.hour == 23  # 01:00+02:00 -> 23:00 UTC


def test_raw_events_nested_and_partial(spark):
    """S4 + the partial-file case (only a column subset present) — the
    explicit nullable schema absorbs missing fields without inference."""
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "raw_events.json.gz")
    full = {"data": {"event_type": "transfer-failed", "reason": "timeout",
                     "src_rse": "X", "dst_rse": "Y", "bytes": 10,
                     "created_at": "2019-08-15 01:00:00"},
            "metadata": {"timestamp": 1565830800}}
    partial = {"data": {"event_type": "deletion-failed"}}
    with gzip.open(path, "wt") as fh:
        fh.write(json.dumps(full) + "\n")
        fh.write(json.dumps(partial) + "\n")
    df = read_events_json(spark, path)
    flat = df.select("data.*")  # P1 flatten
    rows = flat.collect()
    assert len(rows) == 2
    failed = (flat.where(F.col("event_type")
                         .isin(["transfer-failed", "deletion-failed"]))
              .count())
    assert failed == 2
    assert {r.reason for r in rows} == {"timeout", None}


def test_text_log_reader(spark):
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "log.txt")
    with open(path, "w") as fh:
        fh.write("line one   \nline two\t\n")
    rows = [r.line for r in read_text_log(spark, path).collect()]
    assert rows == ["line one", "line two"]


def test_partitioned_parquet_sink(spark):
    """Sink layout: hive partition dirs per key, bounded file count, rows
    sorted inside files, and a partition-pruned read path (the filtered
    scan's file list only touches the matching directory)."""
    from fts_errors_clustering_spark.sources.sinks import write_partitioned_parquet

    os.makedirs(TMP, exist_ok=True)
    out = os.path.join(TMP, "sink_parquet")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i * 7 % 5)) for i in range(40)],
        "id long, k string, v double")
    write_partitioned_parquet(df, out, partition_by="k", sort_by=["v", "id"],
                              files_per_partition=1)

    # hive layout + one data file per partition value
    for part in ("k=a", "k=b"):
        files = [f for f in os.listdir(os.path.join(out, part))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (part, files)

    back = spark.read.parquet(out)
    assert back.count() == 40
    assert {r.k for r in back.select("k").distinct().collect()} == {"a", "b"}

    # rows inside each partition's file are sorted by (v, id)
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(out, "k=a")).to_pydict()
    pairs = list(zip(t["v"], t["id"]))
    assert pairs == sorted(pairs)

    # partition pruning: the filtered plan reads only the k=a directory
    plan = (back.where(F.col("k") == "a")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(k" in plan, plan


def test_jsonl_shards_sink(spark):
    """JSONL export: exact shard count, round-trip fidelity, and key-stable
    sharding (same key -> same shard across two exports)."""
    import json as _json

    from fts_errors_clustering_spark.sources.sinks import write_jsonl_shards

    os.makedirs(TMP, exist_ok=True)
    out = os.path.join(TMP, "sink_jsonl")
    df = spark.createDataFrame(
        [(i, f"doc {i} text", "en" if i % 3 else "de") for i in range(60)],
        "doc_id long, text string, lang string")
    write_jsonl_shards(df, out, n_shards=4, shard_key="doc_id")

    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert len(parts) == 4

    shard_of = {}
    n = 0
    for p in parts:
        with open(os.path.join(out, p)) as fh:
            for line in fh:
                rec = _json.loads(line)
                shard_of[rec["doc_id"]] = p.split("-")[1]
                n += 1
    assert n == 60 and set(shard_of) == set(range(60))

    # re-export shards identically (hash-partitioned by key)
    out2 = os.path.join(TMP, "sink_jsonl2")
    write_jsonl_shards(df, out2, n_shards=4, shard_key="doc_id")
    shard_of2 = {}
    for p in sorted(f for f in os.listdir(out2) if f.startswith("part-")):
        with open(os.path.join(out2, p)) as fh:
            for line in fh:
                shard_of2[_json.loads(line)["doc_id"]] = p.split("-")[1]
    assert shard_of2 == shard_of


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed identically on the join key must SortMergeJoin
    with NO Exchange on either side — the bucket layout IS the join
    partitioning. This is the co-located-join credential: at 100 TB the
    per-join shuffle of the fact table becomes a one-time write cost."""
    import contextlib
    import io
    import re

    from fts_errors_clustering_spark.sources.readers import table
    from fts_errors_clustering_spark.sources.sinks import write_bucketed_table

    ev = table(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    usr = (table(spark, SF_SMALL, "events")
           .groupBy("user_id").count().withColumnRenamed("count", "n"))
    write_bucketed_table(ev, "t_ev_b", "user_id", 8,
                         path=str(tmp_path / "ev"))
    write_bucketed_table(usr, "t_usr_b", "user_id", 8,
                         path=str(tmp_path / "usr"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (spark.table("t_ev_b")
                      .join(spark.table("t_usr_b"), "user_id")
                      .groupBy("user_id").agg(F.sum("value"), F.max("n")))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            nodes = [m.group(1)
                     for m in re.finditer(r"^\(\d+\) (\S+)", plan, re.M)]
            assert "SortMergeJoin" in nodes, nodes
            # no shuffle anywhere below the join: the only allowed Exchange
            # is none at all, since the final groupBy key == bucket key
            assert "Exchange" not in nodes, nodes
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_b")
        spark.sql("DROP TABLE IF EXISTS t_usr_b")


def test_zorder_rowgroups_skip_on_second_dimension(spark, tmp_path):
    """The z-ordered layout's data-skipping claim, checked against the
    ACTUAL parquet min/max stats. A linear sort_by(user_id) layout cannot
    skip anything for a predicate on `value` alone — every row group spans
    the full value range. Morton interleaving bounds BOTH dimensions per
    row group, so a narrow value-range predicate must exclude a material
    fraction of row groups via the same stats."""
    import os

    import pyarrow.parquet as pq

    from fts_errors_clustering_spark.sources.readers import table
    from fts_errors_clustering_spark.sources.sinks import \
        write_zordered_parquet
    from .conftest import SF_SMALL

    ev = (table(spark, SF_SMALL, "events")
          .where("value IS NOT NULL").select("user_id", "value"))
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zordered_parquet(ev, zdir, ("user_id", "value"), n_files=8)
    (ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
       .write.mode("overwrite").parquet(ldir))

    def value_ranges(d):
        out = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            cols = {md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cols["value"]).statistics
                out.append((st.min, st.max))
        return out

    zr, lr = value_ranges(zdir), value_ranges(ldir)
    assert len(zr) >= 8 and len(lr) >= 8
    # probe: values above the data's P90 (quantile of the DATA, not of the
    # min-max range — the fixture's value distribution is heavy-tailed, so
    # a range-relative cut would sit above almost every row)
    q = ev.stat.approxQuantile("value", [0.9], 0.001)[0]
    z_hit = sum(1 for a, b in zr if b >= q)
    l_hit = sum(1 for a, b in lr if b >= q)
    # the linear layout reads (nearly) everything; z-order must skip >= half
    assert l_hit >= len(lr) - 1, (l_hit, len(lr))
    assert z_hit <= len(zr) // 2, (z_hit, len(zr))


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction must collapse a many-tiny-files landing dir to the byte-
    target-derived count, preserve every row, and avoid a shuffle in the
    merge-only path (coalesce, not repartition)."""
    import os

    from fts_errors_clustering_spark.sources.readers import table
    from fts_errors_clustering_spark.sources.sinks import compact_parquet
    from .conftest import SF_SMALL

    ev = table(spark, SF_SMALL, "events").select("event_id", "value")
    src = str(tmp_path / "tiny")
    ev.repartition(40).write.parquet(src)  # simulate micro-batch litter
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in >= 40

    dst = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n_out == 1
    assert spark.read.parquet(dst).count() == ev.count()


def test_versioned_publish_atomic_and_time_travel(spark, tmp_path):
    """Snapshot publish: readers resolve the pointer to a COMPLETE version
    only; old versions stay readable (time travel); an uncommitted version
    directory is invisible."""
    import os

    import pytest

    from fts_errors_clustering_spark.sources.sinks import (
        publish_versioned_parquet, read_latest_version, read_versioned)

    root = str(tmp_path / "snap")
    with pytest.raises(ValueError):
        read_versioned(spark, root)

    v1 = publish_versioned_parquet(spark.range(5), root)
    assert (v1, read_latest_version(root)) == (1, 1)
    assert read_versioned(spark, root).count() == 5

    v2 = publish_versioned_parquet(spark.range(9), root)
    assert v2 == 2
    assert read_versioned(spark, root).count() == 9          # latest
    assert read_versioned(spark, root, version=1).count() == 5  # time travel

    # a crashed writer = data dir without a pointer flip: invisible
    spark.range(3).write.mode("overwrite").parquet(os.path.join(root, "v=3"))
    assert read_latest_version(root) == 2
    assert read_versioned(spark, root).count() == 9
    with pytest.raises(ValueError):
        read_versioned(spark, root, version=3)


def test_versioned_publish_guards(spark, tmp_path):
    """The publish protocol's stated scope is enforced, not just documented:
    a non-local root is rejected (POSIX rename is the atomicity source), a
    held lock file refuses a second publisher instead of letting it clobber
    the same v=N, and the lock is released after a successful publish."""
    import os

    import pytest

    from fts_errors_clustering_spark.sources.sinks import (
        publish_versioned_parquet, read_latest_version)

    with pytest.raises(ValueError, match="driver-local"):
        publish_versioned_parquet(spark.range(1), "s3://bucket/snap")

    root = str(tmp_path / "snap2")
    os.makedirs(root)
    lock = os.path.join(root, "_PUBLISH_LOCK")
    open(lock, "w").close()
    with pytest.raises(RuntimeError, match="another publisher"):
        publish_versioned_parquet(spark.range(1), root)
    assert read_latest_version(root) == 0   # blocked publish wrote nothing
    os.unlink(lock)

    assert publish_versioned_parquet(spark.range(4), root) == 1
    assert not os.path.exists(lock)         # lock released on success
    # file: URI form of a local root is accepted
    assert publish_versioned_parquet(spark.range(2), "file://" + root) == 2


def _jobs_in(spark, fn):
    """(fn's result, number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"jobs-in-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_table_resolves_once_per_session(spark):
    """A second ``table()`` call returns the frame the first resolved, with
    no Spark job (no file listing, no schema job), and it stays uncached."""
    from fts_errors_clustering_spark.sources.readers import table

    first = table(spark, SF_SMALL, "events")
    again, jobs = _jobs_in(spark, lambda: table(spark, SF_SMALL, "events"))
    assert again is first and jobs == 0
    assert not again.is_cached
    assert dict(again.dtypes)["ts"] == "timestamp"


def test_table_cache_pins_and_clearing_drops_memo(spark, monkeypatch):
    """``set_table_cache(True)`` still pins the resolved frame;
    ``set_table_cache(False)`` clears the memo, so the next call resolves
    a new frame."""
    from fts_errors_clustering_spark.sources import readers

    monkeypatch.setattr(readers, "_TABLE_CACHE", {})
    plain = readers.table(spark, SF_SMALL, "region")
    readers.set_table_cache(True)
    try:
        pinned = readers.table(spark, SF_SMALL, "region")
        assert pinned is plain and pinned.is_cached
        assert pinned.storageLevel.useMemory
    finally:
        readers.set_table_cache(False)
        plain.unpersist()
    assert readers._TABLE_CACHE == {}
    fresh = readers.table(spark, SF_SMALL, "region")
    assert fresh is not plain and not fresh.is_cached


def test_table_memo_is_fixed_size_lru(spark, monkeypatch):
    """The memo keeps the most recently used ``_TABLE_MEMO_MAX`` tables: a
    hit refreshes its entry and the least recently used one is evicted."""
    from fts_errors_clustering_spark.sources import readers

    cap = readers._TABLE_MEMO_MAX
    monkeypatch.setattr(readers, "_TABLE_CACHE", {})
    region = readers.table(spark, SF_SMALL, "region")
    for i in range(cap - 1):
        readers._TABLE_CACHE[("old-app", "dir", str(i))] = object()
    assert readers.table(spark, SF_SMALL, "region") is region  # refresh
    readers.table(spark, SF_SMALL, "nation")
    assert len(readers._TABLE_CACHE) == cap
    assert ("old-app", "dir", "0") not in readers._TABLE_CACHE
    assert readers.table(spark, SF_SMALL, "region") is region


_NEW_SESSION_SCRIPT = """
import sys
from pyspark.sql import SparkSession
from fts_errors_clustering_spark.sources.readers import table
sf = sys.argv[1]
b = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
s1 = b.getOrCreate()
d1 = table(s1, sf, "region")
n1 = d1.count()
s1.stop()
s2 = b.getOrCreate()
d2 = table(s2, sf, "region")
assert d2 is not d1 and d2.sparkSession is s2
assert d2.count() == n1
s2.stop()
print("ok")
"""


def test_table_new_session_after_stop_gets_new_frame(tmp_path):
    """A session started after ``stop()`` never gets the old session's
    frame (the memo is keyed by application id). Own process: the test
    session cannot be stopped."""
    import subprocess
    import sys

    script = tmp_path / "new_session.py"
    script.write_text(_NEW_SESSION_SCRIPT)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, str(script), SF_SMALL], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), (
        out.stdout[-2000:], out.stderr[-2000:])
