"""Scale-pattern operators: the shuffle-shape idioms a 100 TB deployment
leans on, each expressed as an oracle-checkable query so the pattern's
CORRECTNESS (not just its plan shape) is pinned.

The reference never needs these — its corpora fit one pandas process
(SURVEY.md section 6) — but every large-scale ingest/compaction pipeline
built on this engine does:

- SALTED TWO-LEVEL AGGREGATION (``salted_group_members``): Spark's partial
  aggregation makes combinable aggs (sum/count/min/max) skew-tolerant for
  free, but NON-COMBINABLE aggs (collect_set/collect_list — the A11 "group
  members" shape, ``SURVEY.md`` section 2.3) put every row of a hot key
  into one reducer task. Salting splits each key into disjoint value-lanes,
  aggregates per lane, then merges the (already tiny) per-lane results —
  the straggler becomes #lanes parallel tasks. Identical results by
  construction because the lanes partition the value space.
- LATEST-WINS COMPACTION (``latest_event_per_user``): the upsert/CDC
  "current snapshot" view — one window pass, no join against self. At
  scale this is the merge-on-read compaction every incremental ingest
  (Hudi/Iceberg-style) performs; the total tie-break order makes the
  result deterministic and value-hashable.
- FIXED-WIDTH HISTOGRAM (``value_histogram``): single-pass binning with a
  STATIC bin function — no data-dependent min/max pre-pass, so the plan
  stays one scan + one shuffle of 10 rows regardless of input size (the
  two-pass dynamic-range histogram needs a full extra scan at 100 TB).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_sum, sql_dec_sum
from ..functions.text import sql_whitespace_tokens, whitespace_tokens
from ..plans.registry import register
from ..sources.readers import table

#: disjoint value-lanes per group key for the salted aggregate. At 100 TB
#: this is sized to (hot-key rows / target task size); correctness does not
#: depend on the value, only on the lanes partitioning the value domain.
N_SALT = 16


@register(
    "salted_group_members",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users
    FROM events
    GROUP BY event_type
    """,
    tags=("scale", "skew", "agg"),
)
def salted_group_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 group-members listing, skew-proofed: distinct users per
    event_type as a sorted member string, via two-level salted aggregation.

    ``events`` groups by a 5-value key — the classic low-cardinality skew
    case where a plain ``collect_set`` leaves all but 5 reducer tasks idle
    and the hottest key's task O(n) behind. Level 1 groups by
    (event_type, user_id % N_SALT) — every lane holds a DISJOINT slice of
    each key's users, so per-lane ``collect_set`` results concatenate to
    the exact global distinct set. Level 2 merges N_SALT small arrays per
    key. The oracle is the plain single-level definition.

    The member list is emitted as a comma-joined STRING (the ``doc_chunks``
    convention): a raw array column crashes value-hash canonicalizers that
    sort rows with pandas (unhashable list), and a scalar digest/string is
    what a 100 TB consumer wants in a verification row anyway."""
    ev = table(spark, sf_dir, "events")
    out = salted_members(ev, "event_type", "user_id")
    return out.select(F.col("event_type"),
                      F.col("n_members").alias("n_users"),
                      F.col("members").alias("users"))


def salted_members(df: DataFrame, key: str, val: str,
                   n_salt: int = N_SALT) -> DataFrame:
    """The reusable two-level salted distinct-members aggregation:
    ``(key, n_members, members)`` with the exact global distinct set of
    ``val`` per ``key``, hot keys split into ``n_salt`` disjoint value
    lanes (``val % n_salt``) so no reducer task holds more than one lane
    of one key. Used by ``salted_group_members`` (events x event_type)
    and by the documents-side skew chaos row in scripts/scale_smoke.py
    (a planted 95%-hot lang key at 10x)."""
    lane = (df.groupBy(key, F.pmod(F.col(val), F.lit(n_salt)).alias("salt"))
            .agg(F.collect_set(val).alias("lane_vals")))
    return (lane.groupBy(key)
            .agg(F.array_sort(F.flatten(F.collect_list("lane_vals")))
                 .alias("arr"))
            .select(key,
                    F.size("arr").cast("long").alias("n_members"),
                    F.array_join(F.col("arr").cast("array<string>"), ",")
                     .alias("members")))


#: shared by the batch compaction and its streaming CDC-upsert twin (the
#: foreachBatch MERGE state drains to exactly this snapshot — pytest
#: equality gate in tests/test_streaming.py).
LATEST_EVENT_ORACLE = """
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """


@register(
    "latest_event_per_user",
    oracle=LATEST_EVENT_ORACLE,
    tags=("scale", "compaction", "window"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins compaction: each user's most recent event (ties broken
    by event_id, so the snapshot is total-order deterministic). One
    shuffle on the compaction key; no self-join. This is the merge-on-read
    "current state" view of an upsert/CDC event stream."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "ts", "event_type", "value"))


@register(
    "value_histogram",
    oracle=f"""
    SELECT CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {sql_dec_sum('value', 6)} AS sum_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
    tags=("scale", "agg"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``events.value``: 10 static buckets of
    width 10 clamped to [0, 90+) — a single scan and a 10-row shuffle.
    The static bin function is the scale-critical choice: a min/max-scaled
    histogram needs a second full pass before binning."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bucket = (F.least(F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)),
                      F.lit(9))).cast("long")
    return (ev.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n"),
                 dec_sum("value", 6).alias("sum_value")))


@register(
    "unpivot_lineitem_measures",
    oracle=f"""
    WITH long AS (
      UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
               FROM lineitem)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE val
    )
    SELECT measure, COUNT(*) AS n,
           {sql_dec_sum('val', 6)} AS sum_val,
           MIN(val) AS min_val, MAX(val) AS max_val
    FROM long GROUP BY measure
    """,
    tags=("scale", "relational", "unpivot"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (the inverse of the A6 pivot surface): the four
    lineitem measures melted to (measure, val) and aggregated per measure.
    ``DataFrame.unpivot`` plans as a single Expand over one scan — one
    pass regardless of measure count, where a per-measure UNION would scan
    the table once per column."""
    li = table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot([], measures, "measure", "val")
    return (long.groupBy("measure")
            .agg(F.count("*").alias("n"),
                 dec_sum("val", 6).alias("sum_val"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val")))


@register("hll_rollup_daily_users", oracle=None, tags=("scale", "approx", "sketch"))
def hll_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count rollup: per-(day, event_type) HLL
    sketches (DataSketches ``hll_sketch_agg``) union-merged up to
    per-event_type totals, next to the exact count for the error-bound test.

    This is THE metric-store pattern at 100 TB: the expensive pass over the
    fact table happens once per day writing ~1 KB sketches; every later
    rollup (weekly, all-time, any type subset) merges sketches WITHOUT
    rescanning events — distinct counts are not otherwise re-aggregatable
    (a sum of daily distincts overcounts returning users). Rows-only by
    design (sketch estimates have no DuckDB twin); the ≤2 % relative-error
    bound vs the exact distinct is asserted in tests/test_plans.py's
    sibling (test_hll_rollup_error_bound).
    """
    ev = table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"), "event_type")
             .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch")))
    merged = (daily.groupBy("event_type")
              .agg(F.count("*").cast("long").alias("n_days"),
                   F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                    .alias("approx_users")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return merged.join(exact, "event_type")


def quantile_buckets(df: DataFrame, col: str, n_buckets: int = 32) -> DataFrame:
    """Add an order-preserving ``bucket`` column over numeric ``col``:
    approx-quantile split points are collected ONCE to the driver as plain
    literals, so bucket assignment is an explicit, job-stable function of
    the row (unlike ``repartitionByRange``, whose sampled boundaries are
    re-drawn per job). Ties at split points stay within one bucket because
    bucketing is strictly-greater-than on the value. This is phase 1 of
    every two-phase global-order composition below — the replacement for
    the ``Window.orderBy(...)``-without-``partitionBy`` single-partition
    scale-killer."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(df.stat.approxQuantile(col, qs, 0.001)))
    return df.withColumn("bucket", bucket_expr(col, bounds))


def bucket_expr(col: str, bounds: list) -> "F.Column":
    """The order-preserving bucket assignment of :func:`quantile_buckets`
    as a bare expression over pre-collected split points — for callers
    that bucket SEVERAL columns from one multi-column ``approxQuantile``
    driver round-trip (e.g. the three RFM rank axes) instead of one
    action per column. Ties at split points stay within one bucket
    (strictly-greater-than on the value), exactly as quantile_buckets.

    Built as ONE SQL string — the left-associated sum ``0 + CASE WHEN ...
    END + ...`` that a chain of Column calls would build, so Catalyst gets
    the identical tree — because the Column form pays ~8 py4j calls per
    split point (~250 for 31 points)."""
    name = "`" + col.replace("`", "``") + "`"
    terms = ["0"] + [f"CASE WHEN {name} > {_sql_literal(b)} THEN 1 ELSE 0 END"
                     for b in sorted(set(bounds))]
    return F.expr(" + ".join(terms))


def _sql_literal(v) -> str:
    """SQL text for the literal ``F.lit(v)`` would build: a double as its
    shortest round-trip repr with the ``D`` suffix (non-finite ones as a
    cast), an integer as itself."""
    if isinstance(v, int):
        return str(v)
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    name = "NaN" if math.isnan(v) else ("-" if v < 0 else "") + "Infinity"
    return f"CAST('{name}' AS DOUBLE)"


def bucket_prefix_offsets(bucketed: DataFrame, agg) -> "F.Column":
    """Phase 2: per-bucket totals of ``agg`` (one tiny aggregate, ≤ n_buckets
    rows to the driver) exclusive-prefix-summed into a literal-map offset
    expression: ``offset(bucket) = sum of totals of all earlier buckets``.
    Phase 3 at the call site adds a WITHIN-bucket window (shuffle on the
    bucket id only, all buckets in parallel) — offset + within-bucket scan
    = the exact global scan."""
    return bucket_prefix_offsets_multi(bucketed, v=agg)["v"]


def bucket_prefix_offsets_multi(bucketed: DataFrame, **aggs) -> dict:
    """``bucket_prefix_offsets`` for SEVERAL prefix measures in ONE driver
    round-trip: one ≤ n_buckets-row aggregate computes every ``agg`` at
    once, and each keyword gets its own literal-map offset column keyed on
    ``bucket``. Used when a composition needs multiple exact global prefix
    sums over the same bucketing (e.g. the survival curves' two at-risk
    processes) — N offset maps for the price of one tiny job."""
    rows = bucketed.groupBy("bucket").agg(
        *[a.alias(k) for k, a in aggs.items()]).collect()
    out = {"rows": rows}  # raw per-bucket rows, for callers that fold
    # additional whole-table scalars (sum/min/max of the bucket aggs) out
    # of the same collect instead of running a second aggregate branch
    for k in aggs:
        totals = {r["bucket"]: r[k] for r in rows}
        offsets, acc = {}, 0
        for b in sorted(totals):
            offsets[b] = acc
            acc += totals[b]
        if not offsets:
            offsets = {0: 0}
        out[k] = F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("bucket"))
    return out


@register(
    "global_value_rank",
    oracle="""
    SELECT event_id, value,
           CAST(ROW_NUMBER() OVER (ORDER BY value, event_id) AS BIGINT) AS rk
    FROM events WHERE value IS NOT NULL
    """,
    tags=("scale", "sort", "rank"),
)
def global_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL row rank over the whole table WITHOUT the
    single-partition window (``ROW_NUMBER() OVER (ORDER BY ...)`` with no
    PARTITION BY collapses all rows into one task — the canonical global-
    sort scale-killer). Composition: ``quantile_buckets`` split points ->
    ``bucket_prefix_offsets`` rank offsets -> within-bucket ``row_number``
    plus the bucket's offset = the exact global rank. The (value, event_id)
    tiebreak makes the total order — and therefore the result —
    deterministic. Cost: two scans + one bucket-keyed shuffle, all
    parallel; the driver only ever sees ≤ n_buckets numbers."""
    ev = (table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select("event_id", "value"))
    bucketed = quantile_buckets(ev, "value")
    off_expr = bucket_prefix_offsets(bucketed, F.count("*"))
    w = Window.partitionBy("bucket").orderBy("value", "event_id")
    return (bucketed
            .withColumn("rk", (off_expr + F.row_number().over(w)).cast("long"))
            .select("event_id", "value", "rk"))


#: replication factor for the salted skew join — at 100 TB sized to
#: (hot-key rows / target task size), exactly like N_SALT above
N_REP = 8


@register(
    "skew_join_segments",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {sql_dec_sum('e.value', 6)} AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.value IS NOT NULL
    GROUP BY c.c_mktsegment
    """,
    tags=("scale", "skew", "join"),
)
def skew_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted big-big join: events (hot user_ids) x customer, spread
    by salting the FACT side with pmod(event_id, N_REP) and REPLICATING
    the dimension row N_REP times — each hot key's rows land in N_REP
    tasks instead of one straggler. The oracle is the plain join.

    This is the manual form of AQE's skew-join splitting, needed when the
    skew is known ahead of time (a hot tenant/user) or when AQE's
    post-shuffle split can't help (e.g. the skewed side feeds a
    non-splittable downstream op). The join is hinted SHUFFLE_MERGE so the
    salted key shape is visible in the plan — with a broadcastable dim
    you'd broadcast instead and salting would be moot; the pattern targets
    dims too big to broadcast (replication multiplies only the SMALL side).
    """
    ev = (table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .withColumn("salt", F.pmod(F.col("event_id"), F.lit(N_REP))))
    cust = (table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .withColumn("salt", F.explode(
                F.sequence(F.lit(0), F.lit(N_REP - 1)).cast("array<bigint>"))))
    j = ev.join(cust.hint("shuffle_merge"),
                (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
    return (j.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n_events"),
                 dec_sum("value", 6).alias("sum_value")))


#: Misra-Gries summary capacity per partition for the heavy-hitter pass.
#: The union of per-partition summaries is a provably complete candidate
#: set for every token with true count > (sum of per-partition decrement
#: totals) <= n_tokens / MG_CAPACITY; the exactness certificate below
#: checks the k-th recounted candidate clears that bound.
MG_CAPACITY = 2048
TOP_TOKENS = 20


def _mg_partition_summaries(tokens: DataFrame, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries sketches over a one-column ``token``
    DataFrame: emits (token, est, dec) rows where ``est`` undercounts the
    partition-local true count by at most ``dec`` (the partition's
    cumulative decrement). Bounded memory (``capacity`` counters) and a
    bounded shuffle (capacity rows per partition) regardless of vocabulary
    size — the property a plain groupBy(token) partial-aggregate loses when
    the per-partition distinct-token count explodes at 100 TB."""
    import numpy as np
    import pandas as pd

    def mg(batches):
        counters: dict[str, int] = {}
        dec_total = 0
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            excess = len(counters) - capacity
            if excess > 0:
                # batch decrement: drop the `excess` smallest counters by
                # subtracting the excess-th smallest value from everyone
                # (the vectorized form of MG's one-at-a-time decrements)
                vals = np.fromiter(counters.values(), dtype=np.int64)
                cut = int(np.partition(vals, excess - 1)[excess - 1])
                dec_total += cut
                counters = {t: c - cut for t, c in counters.items()
                            if c > cut}
        # one sentinel row (token='') carries this partition's decrement
        # total; real-token rows carry dec=0, so SUM(dec) over the whole
        # summary table is the global missed-count bound
        yield pd.DataFrame({
            "token": list(counters.keys()) + [""],
            "est": list(counters.values()) + [0],
            "dec": [0] * len(counters) + [dec_total]})

    return tokens.mapInPandas(mg, "token string, est long, dec long")


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0)) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT {TOP_TOKENS}
    """,
    tags=("scale", "heavy-hitters", "textstats"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global top-{TOP_TOKENS} tokens via two-pass Misra-Gries:
    per-partition bounded-memory sketches -> candidate union -> exact
    recount restricted to candidates (broadcast semi-join) -> top-k.

    Scale story: a plain ``groupBy(token).count()`` shuffles one partial
    row per (partition, distinct token) — at web-corpus vocabulary sizes
    that is the dominant shuffle. The MG pass caps the shuffle at
    MG_CAPACITY rows per partition with a *certificate*: any token absent
    from every sketch has true count <= sum(per-partition decrements), so
    when the k-th recounted candidate exceeds that bound (checked below,
    always true for Zipf-shaped corpora) the top-k is provably exact. On
    certificate failure the operator falls back to the exact full
    aggregation — correctness never depends on the sketch.
    """
    from ..functions.text import whitespace_tokens
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(whitespace_tokens("text")).alias("token"))
    return heavy_hitters(toks, MG_CAPACITY, TOP_TOKENS)


def heavy_hitters(toks: DataFrame, capacity: int, top_n: int) -> DataFrame:
    """The two-pass MG core over a one-column ``token`` frame (separated so
    the certificate-failure fallback is directly testable at tiny
    capacity — tests/test_selection.py)."""
    from .graph import materialize_release
    summaries = _mg_partition_summaries(toks, capacity).cache()
    bound = summaries.agg(F.sum("dec")).first()[0] or 0
    cands = summaries.select("token").where(F.col("token") != "").distinct()
    recount = (toks.join(F.broadcast(cands), "token", "left_semi")
               .groupBy("token").agg(F.count("*").alias("n"))
               .orderBy(F.desc("n"), F.asc("token")).limit(top_n)
               .cache())
    stats = recount.agg(F.min("n").alias("mn"),
                        F.count("*").alias("k")).first()
    if stats.mn is None or stats.mn <= bound or stats.k < top_n:
        # certificate failed: either the k-th candidate doesn't clear the
        # missed-count bound (flat distribution vs capacity) OR decrements
        # shrank the candidate union below top_n rows — in the latter case
        # non-candidate tokens with counts <= bound could belong in the
        # tail, so the short recount is NOT provably the exact top-n
        # (when the true vocabulary itself is < top_n the fallback returns
        # the same rows — harmless). Exact full aggregation either way.
        return materialize_release(
            toks.groupBy("token").agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), F.asc("token")).limit(top_n),
            [summaries, recount])
    # bounded (top_n) result — localize it and release both scratch caches
    return materialize_release(recount, [summaries, recount])


@register(
    "dataset_fingerprint",
    oracle="""
    SELECT 'documents' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substring(md5(concat_ws('|',
             CAST(doc_id AS VARCHAR), COALESCE(lang, ''),
             COALESCE(source, ''), COALESCE(text, ''))), 1, 15)) AS BIGINT))
             AS fingerprint
    FROM documents
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT),
           bit_xor(CAST(('0x' || substring(md5(concat_ws('|',
             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
             COALESCE(event_type, ''), COALESCE(props, ''))), 1, 15))
             AS BIGINT))
    FROM events
    """,
    tags=("scale", "integrity"),
)
def dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dataset content fingerprint — the integrity /
    versioning primitive a 100 TB corpus store diffs snapshots with. Each
    row hashes to a 60-bit value (15 hex chars of md5, identical
    `conv`/`'0x'`-cast parsing both engines) and the table fingerprint is
    their XOR: commutative + associative, so it map-side combines to one
    value per partition and the exchange carries ONE row per table —
    no sort, no shuffle of content, append/remove of a row flips the
    fingerprint deterministically. Restricted to integer/string columns
    (float and timestamp FORMATTING is engine-specific; content equality
    on those is the dq/describe family's job)."""
    docs = table(spark, sf_dir, "documents")
    ev = table(spark, sf_dir, "events")

    def fp(df: DataFrame, name: str, cols) -> DataFrame:
        h = F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15),
                   16, 10).cast("long")
        return (df.select(h.alias("h"))
                .agg(F.count("*").alias("n_rows"),
                     F.expr("bit_xor(h)").alias("fingerprint"))
                .select(F.lit(name).alias("tbl"), "n_rows", "fingerprint"))

    d = fp(docs, "documents", [
        F.col("doc_id").cast("string"),
        F.coalesce("lang", F.lit("")), F.coalesce("source", F.lit("")),
        F.coalesce("text", F.lit(""))])
    e = fp(ev, "events", [
        F.col("event_id").cast("string"), F.col("user_id").cast("string"),
        F.coalesce("event_type", F.lit("")),
        F.coalesce("props", F.lit(""))])
    return d.unionByName(e)


def global_rank_column(df: DataFrame, col: str, tiebreak: str,
                       out: str) -> DataFrame:
    """Exact global ROW_NUMBER over ``(col, tiebreak)`` ascending via the
    two-phase bucket composition (``quantile_buckets`` +
    ``bucket_prefix_offsets``) — the reusable form of
    ``global_value_rank``'s plan: no SinglePartition exchange, the window
    shuffles on the bucket id only."""
    b = quantile_buckets(df, col)
    off = bucket_prefix_offsets(b, F.count("*"))
    w = Window.partitionBy("bucket").orderBy(F.asc(col), F.asc(tiebreak))
    return (b.withColumn(out, (F.row_number().over(w) + off).cast("long"))
            .drop("bucket"))


_RFM_EPOCH = "1990-01-01"


@register(
    "rfm_customer_segments",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             DATE_DIFF('day', DATE '{_RFM_EPOCH}', MAX(o_orderdate)) AS r_days,
             COUNT(*) AS n_orders,
             {sql_dec_sum('o_totalprice', 2)} AS spend
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT COUNT(*) AS n FROM per),
    ranked AS (
      SELECT o_custkey, spend,
        ROW_NUMBER() OVER (ORDER BY r_days, o_custkey) AS r_rk,
        ROW_NUMBER() OVER (ORDER BY n_orders, o_custkey) AS f_rk,
        ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS m_rk
      FROM per
    )
    SELECT CAST((4 * (r_rk - 1)) // (SELECT n FROM n) AS BIGINT) AS recency_q,
           CAST((4 * (f_rk - 1)) // (SELECT n FROM n) AS BIGINT) AS frequency_q,
           CAST((4 * (m_rk - 1)) // (SELECT n FROM n) AS BIGINT) AS monetary_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dec_sum('spend', 2)} AS segment_spend
    FROM ranked GROUP BY 1, 2, 3
    """,
    tags=("scale", "rank", "relational"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer quartile-scored on Recency (last
    order date), Frequency (order count), and Monetary (lifetime spend),
    then counted per (R,F,M) cell — the classic audience-analytics rollup,
    quartile 3 = top. Quartiles are RANK-based (exact global row_number ->
    ``floor(4*(rk-1)/n)``), the NTILE(4) total-order semantics, with the
    custkey tiebreak making every score deterministic.

    Scale shape: THREE exact global ranks, each via the two-phase bucket
    composition (:func:`global_rank_column`) — never a SinglePartition
    window over the customer table; the n scalar is a 1-row broadcast.
    The oracle spells the same ranks as plain ROW_NUMBERs. The customer
    aggregate cache is scoped to this call (materialize_release on the
    bounded <=4^3-cell result) — no session-lifetime pin."""
    from .graph import materialize_release
    o = table(spark, sf_dir, "orders")
    # cache the customer aggregate BEFORE the rank passes: each
    # global_rank_column runs two actions (quantile split points + bucket
    # offsets), so an uncached `per` re-runs the orders scan+groupBy six
    # times across the three ranks — measured 4.6 -> 3.2 s warm at sf0.1
    per = (o.groupBy("o_custkey")
           .agg(F.datediff(F.max("o_orderdate"),
                           F.lit(_RFM_EPOCH).cast("date")).alias("r_days"),
                F.count("*").alias("n_orders"),
                dec_sum("o_totalprice", 2).alias("spend"))
           .cache())
    # all three rank axes share ONE multi-column approxQuantile round-trip
    # and ONE per-bucket-counts collect (explode each customer row into its
    # three (metric, bucket) memberships -> one tiny groupBy job) — down
    # from the six driver actions of three sequential global_rank_column
    # calls (guide §1.2/§2.4: fewer full passes over the aggregate). The
    # three rank windows themselves remain, one exchange each: three
    # different total orders genuinely need three shuffles.
    axes = (("r_days", "rb", "r_rk"), ("n_orders", "fb", "f_rk"),
            ("spend", "mb", "m_rk"))
    qs = [i / 32 for i in range(1, 32)]
    bounds = per.stat.approxQuantile([c for c, _, _ in axes], qs, 0.001)
    ranked = (per.withColumn("rb", bucket_expr("r_days", bounds[0]))
              .withColumn("fb", bucket_expr("n_orders", bounds[1]))
              .withColumn("mb", bucket_expr("spend", bounds[2])))
    cnts = (ranked.select(F.explode(F.array(
        F.struct(F.lit("r").alias("ax"), F.col("rb").alias("bucket")),
        F.struct(F.lit("f").alias("ax"), F.col("fb").alias("bucket")),
        F.struct(F.lit("m").alias("ax"), F.col("mb").alias("bucket"))))
        .alias("kv"))
        .groupBy("kv.ax", "kv.bucket").agg(F.count("*").alias("c"))
        .collect())
    n = sum(r["c"] for r in cnts) // 3
    for (col, bcol, out_rk), ax in zip(axes, ("r", "f", "m")):
        totals = {r["bucket"]: r["c"] for r in cnts if r["ax"] == ax}
        acc, m = 0, {}
        for bkt in sorted(totals):
            m[bkt] = acc
            acc += totals[bkt]
        off = (F.element_at(
            F.create_map(*[F.lit(x) for kv in m.items() for x in kv]),
            F.col(bcol)) if m else F.lit(0))
        w = Window.partitionBy(bcol).orderBy(F.asc(col), F.asc("o_custkey"))
        ranked = ranked.withColumn(
            out_rk, (off + F.row_number().over(w)).cast("long"))
    # `div`, not `/`: both engines float-divide integers with `/`, and a
    # truncating cast of 0.9999999 vs 1.0 is exactly the cross-engine
    # boundary bug the integer form rules out; n rides as a literal from
    # the shared counts collect instead of a broadcast 1-row crossJoin
    q = lambda rk: F.expr(f"(4 * ({rk} - 1)) div {max(n, 1)}").cast("long")
    out = (ranked
           .groupBy(q("r_rk").alias("recency_q"),
                    q("f_rk").alias("frequency_q"),
                    q("m_rk").alias("monetary_q"))
           .agg(F.count("*").cast("long").alias("n_customers"),
                dec_sum("spend", 2).alias("segment_spend")))
    return materialize_release(out, [per])


# --- round 4: training-shard balance audit -----------------------------------

N_SHARDS = 16


@register(
    "shard_balance_audit",
    oracle=f"""
    WITH per AS (
      SELECT CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % {N_SHARDS} AS shard_id,
             CAST(len({sql_whitespace_tokens('text')}) AS BIGINT) AS n_toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    s AS (
      SELECT shard_id, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM per GROUP BY shard_id
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS k FROM s)
    SELECT s.shard_id, s.n_docs, s.n_tokens,
           ROUND(CAST(s.n_tokens AS DOUBLE)
                 / (CAST(tot.t AS DOUBLE) / tot.k), 6) AS token_skew
    FROM s, tot
    """,
    tags=("scale", "sharding"),
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment + balance audit: every document lands in
    one of {N_SHARDS} shards by salted content-independent hash (the
    data-loader sharding a multi-host training job uses — deterministic,
    reproducible, no coordination), and the audit reports per-shard doc and
    TOKEN counts plus each shard's token skew vs the mean shard. A skew far
    from 1.0 means stragglers: one host finishes its epoch late by exactly
    that factor. One scan -> {N_SHARDS}-group aggregate -> 1-row broadcast
    total; the salt differs from the train/val/test split hash so shard and
    split assignments stay independent."""
    docs = table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0)
    shard = (F.conv(F.substring(F.md5(F.concat(F.lit("shard"),
                                               F.col("doc_id").cast("string"))),
                                1, 8), 16, 10)
             .cast("long") % N_SHARDS)
    n_toks = F.size(whitespace_tokens("text")).cast("long")
    s = (docs.select(shard.alias("shard_id"), n_toks.alias("n_toks"))
         .groupBy("shard_id")
         .agg(F.count("*").alias("n_docs"),
              F.sum("n_toks").cast("long").alias("n_tokens")))
    tot = s.agg(F.sum("n_tokens").cast("long").alias("t"),
                F.count("*").alias("k"))
    return (s.crossJoin(F.broadcast(tot))
            .select("shard_id", "n_docs", "n_tokens",
                    F.round(F.col("n_tokens").cast("double")
                            / (F.col("t").cast("double") / F.col("k")), 6)
                    .alias("token_skew")))


#: incremental-maintenance cutoff: rows at/after this instant are the
#: "delta batch"; earlier rows are the materialized base state.
_INC_CUTOFF = "2024-01-21 00:00:00"


@register(
    "incremental_agg_maintenance",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           {sql_dec_sum('value', 6)} AS sum_value,
           ROUND({sql_dec_sum('value', 6)} / COUNT(value), 6) AS mean_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    tags=("scale", "incremental"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the base partition
    (ts < {_INC_CUTOFF}) is aggregated into a PARTIAL STATE (count +
    DECIMAL sum per event type), the delta batch (ts >= cutoff) into its
    own state, and the published view MERGES the two states — no rescan of
    the base. The oracle recomputes the aggregate over the full table
    directly, so the value-hash match IS the proof that merge(state_base,
    state_delta) == recompute(all) — the algebraic property (decimal sums
    are exact and associative; counts add) every incremental-view /
    streaming-upsert pipeline silently relies on. The HLL twin for
    distinct counts is `hll_rollup_daily_users`; this is the exact-sum
    form. Final mean divides AFTER the merge (mean itself is not
    mergeable — the state carries the sum).

    Scale: each side is one map-side-combinable aggregate; the merge
    re-aggregates |event_type| x 2 state rows. At 100 TB the base state is
    a stored table and only the delta is scanned per refresh."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cut = F.lit(_INC_CUTOFF).cast("timestamp")

    def state(part: DataFrame) -> DataFrame:
        return (part.groupBy("event_type")
                .agg(F.count("value").alias("n"),
                     F.sum(F.col("value").cast("decimal(27,6)")).alias("s")))

    base = state(ev.where(F.col("ts") < cut))
    delta = state(ev.where(F.col("ts") >= cut))
    merged = (base.unionByName(delta)
              .groupBy("event_type")
              .agg(F.sum("n").cast("long").alias("n"),
                   F.sum("s").alias("s")))
    total = F.col("s").cast("string").cast("double")
    return merged.select("event_type", "n", total.alias("sum_value"),
                         F.round(total / F.col("n"), 6).alias("mean_value"))


# --- round 5: 2-D skyline via two-phase prefix max ----------------------------

def bucket_prefix_running_max(bucketed: DataFrame, col: str) -> "F.Column":
    """``bucket_prefix_offsets`` generalized from prefix-SUM to prefix-MAX:
    per-bucket maxima (<= n_buckets rows to the driver) folded into an
    exclusive running max, returned as a literal-map expression —
    ``offset(bucket) = max of all earlier buckets' max`` (NULL for the
    first bucket: element_at on a missing key). Together with a
    WITHIN-bucket running-max window this composes the exact global
    prefix max without a single-partition global sort — the same
    two-phase trick as global_value_rank, for any associative prefix op.
    The returned expression is cast to ``col``'s own dataType (a
    double-valued axis stays double — no silent long truncation)."""
    dtype = bucketed.schema[col].dataType.simpleString()
    rows = bucketed.groupBy("bucket").agg(F.max(col).alias("v")).collect()
    maxima = {r["bucket"]: r["v"] for r in rows}
    offsets, acc = {}, None
    for b in sorted(maxima):
        if acc is not None:
            offsets[b] = acc
        acc = maxima[b] if acc is None else max(acc, maxima[b])
    if not offsets:
        return F.lit(None).cast(dtype)
    return F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("bucket")).cast(dtype)


@register(
    "pareto_frontier_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
    tags=("scale", "skyline", "sort"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize p_retailprice, maximize p_size) — the multi-objective
    shortlist query. The oracle states the semantics as quadratic NOT
    EXISTS dominance; the plan uses the sorted-sweep identity instead: a
    point survives iff its size equals the max size at its exact price AND
    strictly exceeds the running max size over all strictly-cheaper
    prices. Equal (price, size) twins survive together (neither dominates).

    Scale: group to one row per distinct price (map-side combinable), then
    the strict-lower running max via quantile_buckets +
    bucket_prefix_running_max — per-bucket windows in parallel, no global
    single-partition sort; the threshold table (one row per distinct
    price) joins back by price, AQE picks broadcast vs shuffle from its
    runtime size. Every stage is key-bounded; nothing is quadratic."""
    pts = (table(spark, sf_dir, "part")
           .select("p_partkey", "p_retailprice",
                   F.col("p_size").cast("long").alias("p_size")))
    grp = pts.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    b = quantile_buckets(grp, "p_retailprice")
    off = bucket_prefix_running_max(b, "mx")
    w = (Window.partitionBy("bucket").orderBy("p_retailprice")
         .rowsBetween(Window.unboundedPreceding, -1))
    # greatest() skips NULLs: below is NULL only when BOTH the within-bucket
    # prefix and the earlier-bucket offset are empty (the globally cheapest
    # price), where the strict-dominance clause is vacuously true.
    thr = b.withColumn("below", F.greatest(F.max("mx").over(w), off))
    sky = (pts.join(thr.select("p_retailprice", "mx", "below"),
                    "p_retailprice")
           .where((F.col("p_size") == F.col("mx"))
                  & (F.col("below").isNull()
                     | (F.col("p_size") > F.col("below"))))
           .select("p_partkey", "p_retailprice", "p_size"))
    return sky


# --- round 6: Pareto 80/20 revenue concentration ------------------------------

@register(
    "supplier_revenue_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                  AS DECIMAL(27,0)) AS rev_e4
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(rev_e4) AS DECIMAL(27,0)) AS t,
                   COUNT(*) AS n FROM rev),
    ranked AS (
      SELECT rev_e4,
             CAST(SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_suppkey)
                  AS DECIMAL(27,0)) AS cum
      FROM rev
    ),
    sel AS (
      SELECT rev_e4 FROM ranked CROSS JOIN tot
      WHERE 5 * (cum - rev_e4) < 4 * t
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_top,
           ROUND(CAST(CAST(SUM(rev_e4) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST((SELECT t FROM tot) AS VARCHAR) AS DOUBLE),
                 6) AS top_share
    FROM sel
    """,
    tags=("scale", "concentration", "rank"),
)
def supplier_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 concentration: the smallest set of suppliers whose
    discounted lineitem revenue covers >=80% of the total, plus the share
    that set actually holds — the head-count complement of the Gini
    coefficient (``revenue_gini_by_nation`` answers "how concentrated";
    this answers "how many whales do I depend on", the
    supplier-consolidation / vendor-risk question).

    Exactness: revenue is summed in integer 1e-4-dollar units
    (cents(price) x basis-points(1 - discount), both factors exact by
    construction of the 2-decimal columns), so ranks, cumulative sums,
    and the 80% crossing (stated as the integer comparison
    ``5*(cum - rev) < 4*total``, never a float threshold) are
    deterministic in both engines; only the final share divides, and it
    divides two string-cast decimal sums — bit-identical doubles.

    Scale: per-supplier aggregate is map-side combinable; the DESC rank
    and the cumulative revenue each use the two-phase bucket composition
    (``quantile_buckets`` + ``bucket_prefix_offsets``) — no
    SinglePartition window anywhere; the crossing test joins a 1-row
    broadcast total. Everything after the first aggregate is
    supplier-cardinality, ~1e-4 of lineitem."""
    from .graph import materialize_release
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    bp = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    # cache the supplier-sized aggregate: the two two-phase compositions
    # below run four driver actions (2x approxQuantile + 2x offsets)
    # before the final job, and an uncached `rev` re-aggregates lineitem
    # once per action; released with the bounded 1-row result below
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum((cents * bp).cast("decimal(27,0)"))
                .cast("long").alias("rev_e4"))
           .cache())
    # the cumulative-revenue prefix runs DIRECTLY over the (revenue DESC,
    # suppkey) total order: buckets on the negated revenue, ONE <=32-row
    # collect yields the per-bucket revenue prefix offsets AND the table
    # totals (t, n) as exact Python scalars, and one within-bucket window
    # computes the running sum. The former two-stage composition (a
    # global_rank_column pass materializing an explicit rank, then a
    # SECOND bucket composition over that rank) spent four driver actions
    # and two extra shuffles building a rank column the query never
    # outputs (guide §1.2: don't compute things you throw away).
    b = quantile_buckets(rev.withColumn("neg", -F.col("rev_e4")), "neg")
    offm = bucket_prefix_offsets_multi(b, s=F.sum("rev_e4"),
                                       cnt=F.count("*"))
    n = sum(r["cnt"] for r in offm["rows"])
    t = sum(r["s"] for r in offm["rows"])  # exact: Python ints of e4 units
    t_lit = F.lit(str(t)).cast("decimal(27,0)")
    # str -> double is the correctly-rounded decimal parse — identical to
    # the oracle's CAST(CAST(t AS VARCHAR) AS DOUBLE)
    t_dbl = float(str(t))
    wb = (Window.partitionBy("bucket").orderBy("neg", "l_suppkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = b.withColumn(
        "cum", (offm["s"] + F.sum("rev_e4").over(wb)).cast("decimal(27,0)"))
    sel = cum.where(5 * (F.col("cum") - F.col("rev_e4")) < 4 * t_lit)
    # n_suppliers comes from the totals literals, mirroring the oracle's
    # scalar subquery: deriving it as first('n') over sel would report 0
    # on any input where sel is empty but suppliers exist (all-zero
    # revenue) — an engine-parity break on degenerate data
    top = sel.agg(
        F.count("*").cast("long").alias("n_top"),
        F.sum(F.col("rev_e4").cast("decimal(27,0)"))
        .cast("string").cast("double").alias("sel_rev"))
    out = top.select(F.lit(n).cast("long").alias("n_suppliers"),
                     "n_top",
                     F.round(F.col("sel_rev") / F.lit(t_dbl), 6)
                     .alias("top_share"))
    return materialize_release(out, [rev])


# --- round 6: mergeable histogram-quantile rollup ------------------------------

#: histogram geometry for the quantile rollup: equi-width bins over the
#: value domain. Deterministic (no data-dependent boundaries), so daily
#: states from different shards/engines merge bit-identically — the
#: property a data-dependent t-digest only has approximately.
HQ_BIN_W = 2.0


#: shared by the batch rollup and its streaming twin (stream-maintained
#: daily states through the same hq_rollup_tail — pytest equality gate).
HQ_ROLLUP_ORACLE = f"""
    WITH binned AS (
      SELECT date_trunc('week', ts) AS week,
             CAST(FLOOR(value / {HQ_BIN_W}) AS BIGINT) AS bin,
             COUNT(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT week, SUM(c) AS n FROM binned GROUP BY week),
    cum AS (
      SELECT b.week, b.bin, t.n,
             SUM(b.c) OVER (PARTITION BY b.week ORDER BY b.bin
                            ROWS UNBOUNDED PRECEDING) AS cw
      FROM binned b JOIN tot t USING (week)
    ),
    med AS (
      SELECT week, CAST(MIN(bin) AS BIGINT) AS median_bin,
             CAST(MAX(n) AS BIGINT) AS n
      FROM cum WHERE 2 * cw >= n GROUP BY week
    ),
    exact AS (
      SELECT date_trunc('week', ts) AS week,
             quantile_cont(value, 0.5) AS exact_median
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT CAST(m.week AS TIMESTAMP) AS week, m.n,
           m.median_bin,
           ROUND(m.median_bin * {HQ_BIN_W} + {HQ_BIN_W} / 2, 6)
             AS approx_median,
           ROUND(e.exact_median, 6) AS exact_median,
           ABS(m.median_bin * {HQ_BIN_W} + {HQ_BIN_W} / 2 - e.exact_median)
             <= {HQ_BIN_W} AS within_bin_bound
    FROM med m JOIN exact e USING (week)
    """


@register(
    "histogram_quantile_rollup",
    oracle=HQ_ROLLUP_ORACLE,
    tags=("scale", "sketch", "rollup", "approx"),
)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup — the quantile analogue of
    ``hll_rollup_daily_users``: per-DAY equi-width histogram states of
    ``events.value`` are merged up to weeks by plain count addition, and
    the weekly median is read off the merged histogram's cumulative walk.
    The oracle bins the raw events into weeks DIRECTLY (no daily step),
    so the value-hash match IS the proof that
    ``merge(daily states) == rebin(all)`` — the re-aggregability every
    quantile-rollup tier relies on, exact here because equi-width bin
    assignment is a pure function of the value (a t-digest's
    data-dependent centroids only merge approximately). The exact weekly
    median rides along with a ``within_bin_bound`` verdict. The verdict
    is a REPORTED observation, not an invariant: the one-bin-width bound
    on the interpolated median is provable only for odd-count weeks
    (where the median is the ceil(n/2)-th element, which lives in
    ``median_bin`` by construction); for even counts the midpoint of the
    two middle values can sit above the bound on adversarial data.

    Deployed shape: the ``exact_median`` rider (``percentile(value,
    0.5)`` over RAW events per week) is the only non-mergeable piece of
    this plan and exists purely as a test-time audit — at 100 TB it would
    cost more than the sketch it certifies, so production drops it (or
    samples a few weeks for spot-audit) and reads ONLY the mergeable
    daily states.

    Scale: the daily state is |days| x |occupied bins| rows (map-side
    combinable); the weekly merge re-aggregates states, never raw events;
    the cumulative walk runs per week over <=(domain/width) bins. At
    100 TB the daily states are a stored table and each refresh touches
    one day — the ``incremental_agg_maintenance`` deployment shape, for
    medians."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day_state = (ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") / HQ_BIN_W).cast("long").alias("bin"))
        .agg(F.count("*").alias("c")))
    exact = (ev.groupBy(F.date_trunc("week", "ts").alias("week"))
             .agg(F.expr("percentile(value, 0.5)").alias("exact_median")))
    return hq_rollup_tail(day_state, exact)


def hq_rollup_tail(day_state: DataFrame, exact: DataFrame) -> DataFrame:
    """Merge per-day histogram states to weeks and read the median off the
    cumulative walk — shared tail of the batch operator above and its
    streaming twin (``streaming_hq_rollup_tail``, which maintains the
    daily states with a watermarked streaming aggregate and hands the
    MATERIALIZED states here)."""
    weekly = (day_state.groupBy(
        F.date_trunc("week", "day").alias("week"), "bin")
        .agg(F.sum("c").alias("c")))
    tot = weekly.groupBy("week").agg(F.sum("c").alias("n"))
    wcum = (Window.partitionBy("week").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (weekly.join(F.broadcast(tot), "week")
           .withColumn("cw", F.sum("c").over(wcum)))
    med = (cum.where(2 * F.col("cw") >= F.col("n"))
           .groupBy("week")
           .agg(F.min("bin").cast("long").alias("median_bin"),
                F.max("n").cast("long").alias("n")))
    approx = F.col("median_bin") * HQ_BIN_W + HQ_BIN_W / 2
    return (med.join(exact, "week")
            .select("week", "n", "median_bin",
                    F.round(approx, 6).alias("approx_median"),
                    F.round("exact_median", 6).alias("exact_median"),
                    (F.abs(approx - F.col("exact_median")) <= HQ_BIN_W)
                    .alias("within_bin_bound")))
