"""Time-window operators over ``events`` — batch forms of the streaming
extension (SURVEY.md section 2.8: the reference is daily-batch only; the
rebuild adds tumbling/sliding/session windows). The Structured Streaming
executions of the same plans live in ``streaming/jobs.py``; these batch
forms are the DuckDB-oracle-checkable semantics anchor, and Spark guarantees
``window()``/``session_window()`` behave identically in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (dec_avg, dec_std, dec_sum, round_half_up,
                                 sql_dec_avg, sql_dec_std, sql_dec_sum)
from ..plans.registry import register
from ..sources.readers import table
# one-way dependency (scale.py never imports windows): these twins share
# their batch counterparts' oracles, certified by pytest equality gates
from .scale import HQ_ROLLUP_ORACLE as _HQ_ROLLUP_ORACLE_REF
from .scale import LATEST_EVENT_ORACLE as _LATEST_EVENT_ORACLE_REF

FUNNEL_STEPS = ("view", "click", "purchase")

#: shared by the batch funnel and its streaming twin (per-user stage
#: machine — pytest equality gate pins twin == batch, so the same oracle
#: certifies both driver rows).
FUNNEL_ORACLE = f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > v.t1 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > c.t2 GROUP BY 1
    ),
    n AS (SELECT (SELECT COUNT(*) FROM v) AS n1,
                 (SELECT COUNT(*) FROM c) AS n2,
                 (SELECT COUNT(*) FROM p) AS n3)
    SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
           CAST(n1 AS BIGINT) AS n_users,
           CASE WHEN n1 = 0 THEN 0.0 ELSE 1.0 END AS conv_from_prev FROM n
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
           CASE WHEN n1 = 0 THEN 0.0
                ELSE ROUND(CAST(n2 AS DOUBLE) / n1, 6) END FROM n
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
           CASE WHEN n2 = 0 THEN 0.0
                ELSE ROUND(CAST(n3 AS DOUBLE) / n2, 6) END FROM n
    """


#: shared by the batch operator and its streaming twin (complete-mode
#: watermarked window aggregate — Spark guarantees batch/stream window()
#: agreement; the pytest equality gate pins it).
TUMBLING_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, {sql_dec_sum('value', 6)} AS sum_value
    FROM events GROUP BY 1, 2
    """


@register(
    "tumbling_hourly_by_type",
    oracle=TUMBLING_ORACLE,
    tags=("windows", "streaming"),
)
def tumbling_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows x event_type: ``F.window`` in batch mode; the
    window struct's ``start`` equals ``date_trunc('hour')`` for
    epoch-aligned windows (UTC session tz pinned by the reader)."""
    ev = table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), dec_sum("value", 6).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


#: shared by the batch operator and its streaming twin: the twin's stateful
#: gap extraction reproduces the LAG window exactly (pytest equality gate),
#: so the SAME oracle certifies both driver rows.
INTERARRIVAL_ORACLE = """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6, 6) AS median_gap_s,
           ROUND(quantile_cont(gap_us, 0.95) / 1e6, 6) AS p95_gap_s,
           ROUND(MAX(gap_us) / 1e6, 6) AS max_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """


@register(
    "user_interarrival_stats",
    oracle=INTERARRIVAL_ORACLE,
    tags=("windows", "stats"),
)
def user_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile: per-user consecutive event gaps (LAG
    over (user_id, ts) with event_id as the deterministic tie-break),
    grouped by the LATER event's type — median/p95/max gap in seconds.
    The cadence fingerprint behind bot detection, session-gap tuning
    (pick the session_window gap from the p95 here, not folklore), and
    retention modeling; complements the grid-anchored windows (tumbling/
    sliding) with the row-anchored view.

    Scale: one exchange on user_id + per-partition sort (the
    ``latest_event_per_user`` shape); gaps stay integer micros until the
    final division so both engines aggregate identical values; exact
    percentiles per |event_type|-row group via the `percentile` /
    `quantile_cont` parity precedent."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (ev.select("event_type",
                      (F.unix_micros("ts") -
                       F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"))
            .where(F.col("gap_us").isNotNull()))
    return interarrival_stats(gaps)


def interarrival_stats(gaps: DataFrame) -> DataFrame:
    """Aggregate a ``(event_type, gap_us)`` gap table to the per-type
    cadence profile — shared tail of the batch operator above and its
    streaming twin (``streaming_interarrival_tail``), so the equality gate
    compares the stateful gap EXTRACTION, not two copies of the rollup."""
    return (gaps.groupBy("event_type")
            .agg(F.count("gap_us").cast("long").alias("n_gaps"),
                 F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 6)
                  .alias("median_gap_s"),
                 F.round(F.expr("percentile(gap_us, 0.95)") / 1e6, 6)
                  .alias("p95_gap_s"),
                 F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s")))


#: shared by the batch operator and its streaming twin (stream-maintained
#: hourly aggregate through the same cusum_tail — pytest equality gate).
CUSUM_ORACLE = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    mu AS (
      SELECT event_type, AVG(n) AS mu, COUNT(*) AS n_hours
      FROM hourly GROUP BY event_type
    ),
    cusum AS (
      SELECT h.event_type, h.h, m.n_hours,
             SUM(h.n - m.mu) OVER (
               PARTITION BY h.event_type ORDER BY h.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM hourly h JOIN mu m ON h.event_type = m.event_type
    ),
    ranked AS (
      SELECT event_type, h, n_hours, ABS(c) AS a,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(c) DESC, h ASC) AS rk
      FROM cusum
    )
    SELECT event_type, h AS changepoint_hour,
           ROUND(a, 6) AS max_abs_cusum, n_hours
    FROM ranked WHERE rk = 1
    """


@register(
    "hourly_cusum_changepoint",
    oracle=CUSUM_ORACLE,
    tags=("windows", "stats", "anomaly"),
)
def hourly_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: hourly counts, running
    sum of deviations from the per-type mean, and the hour where |CUSUM|
    peaks — the classic level-shift locator (the peak of the cumulative
    deviation walk IS the most likely mean-shift point). The feed-health
    question `hourly_anomaly_scores` (pointwise z) can't answer: WHEN did
    the rate regime change, not which single hours are odd.

    Scale: the windows run over the HOURLY AGGREGATE (calendar-sized,
    thousands of rows/type at any corpus size), partitioned by event_type —
    never over raw events; the running sum's addition order is fixed by
    the hour ordering, so both engines produce bit-identical doubles."""
    ev = table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count("*").cast("long").alias("n")))
    return cusum_tail(hourly)


def cusum_tail(hourly: DataFrame) -> DataFrame:
    """The CUSUM walk + peak pick over an ``(event_type, h, n)`` hourly
    aggregate — shared tail of the batch operator above and its streaming
    twin (``streaming_cusum_tail``), which maintains the hourly aggregate
    with a watermarked streaming window and hands the MATERIALIZED
    aggregate here (chained stateful aggregation is the part Structured
    Streaming restricts; running the changepoint scan batch-side over the
    stream-maintained aggregate is the production deployment shape)."""
    mu = (hourly.groupBy("event_type")
          .agg(F.avg("n").alias("mu"), F.count("*").alias("n_hours")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cusum = (hourly.join(F.broadcast(mu), "event_type")
             .select("event_type", "h", "n_hours",
                     F.sum(F.col("n") - F.col("mu")).over(w).alias("c")))
    rk = Window.partitionBy("event_type").orderBy(F.desc(F.abs("c")),
                                                  F.asc("h"))
    return (cusum.withColumn("rk", F.row_number().over(rk))
            .where(F.col("rk") == 1)
            .select("event_type", F.col("h").alias("changepoint_hour"),
                    F.round(F.abs("c"), 6).alias("max_abs_cusum"),
                    "n_hours"))


@register(
    "sliding_2h_windows",
    oracle=f"""
    WITH slid AS (
      SELECT date_trunc('hour', ts) - INTERVAL (o.off) HOUR AS window_start,
             value
      FROM events, (SELECT unnest([0, 1]) AS off) o
    )
    SELECT window_start, COUNT(*) AS n, {sql_dec_sum('value', 6)} AS sum_value
    FROM slid GROUP BY window_start
    """,
    tags=("windows", "streaming"),
)
def sliding_2h_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in exactly
    two windows; ``F.window(ts, '2 hours', '1 hour')`` plans the expansion
    natively (the oracle replays it as an explicit 2-offset union)."""
    ev = table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), dec_sum("value", 6).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "n", "sum_value"))


@register(
    "session_windows_6h",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 6 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("windows", "streaming"),
)
def session_windows_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (6h inactivity gap) per user via
    ``F.session_window`` — batch mode; the oracle replays the classic
    gaps-and-islands (lag + running sum) formulation. Session start = first
    event ts; events merge while consecutive gaps are < 6h."""
    ev = table(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))


@register(
    "rolling_7d_user_value",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS VARCHAR)
                AS DOUBLE) AS sum_value_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    """,
    tags=("windows", "rolling"),
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 7-day activity per user (event count + exact
    value sum) — the RANGE-frame rolling aggregate the tumbling/sliding/
    session trio doesn't cover: the frame is anchored at EACH row, not at
    grid-aligned boundaries.

    Spark's range frame orders by a numeric key, so ts maps to epoch
    micros (order- and distance-preserving; the oracle's
    ``RANGE INTERVAL 7 DAY PRECEDING`` over the timestamp is the identical
    frame, peers-at-CURRENT-ROW included in both engines). The rolling sum
    runs in DECIMAL so both engines hold bit-identical totals.

    Scale: one exchange on user_id, one sort per partition; the frame is
    evaluated by Spark's sliding window-frame executor without
    re-aggregating from scratch per row.
    """
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-7 * 86400 * 1_000_000, 0))
    return ev.select(
        "user_id", "event_id",
        F.count("*").over(w).cast("long").alias("n_7d"),
        F.sum(F.col("value").cast("decimal(27,6)")).over(w)
         .cast("string").cast("double").alias("sum_value_7d"))


@register("streaming_tumbling_hourly", oracle=TUMBLING_ORACLE,
          tags=("windows", "streaming"))
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed as a REAL Structured Streaming
    query (file source -> watermark -> windowed agg -> memory sink,
    processAllAvailable). Carries the batch operator's oracle (pytest
    equality gate is the bridge), so the driver row is a full value-hash
    check."""
    from ..streaming.jobs import run_tumbling_stream
    return run_tumbling_stream(spark, sf_dir)


@register("streaming_interarrival_tail", oracle=INTERARRIVAL_ORACLE,
          tags=("windows", "streaming", "stateful", "stats"))
def streaming_interarrival_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``user_interarrival_stats``' streaming twin: per-user gap extraction
    as a custom stateful operator (``applyInPandasWithState``, key =
    user_id, state = last timestamp) over the month replayed as ordered
    daily micro-batches; the rollup is the shared ``interarrival_stats``
    tail. Carries the batch operator's oracle (pytest equality gate is
    the bridge), so the driver row is a full value-hash check."""
    from ..streaming.jobs import run_interarrival_stream
    return run_interarrival_stream(spark, sf_dir)


@register("streaming_cusum_tail", oracle=CUSUM_ORACLE,
          tags=("windows", "streaming", "stats", "anomaly"))
def streaming_cusum_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``hourly_cusum_changepoint``'s streaming twin: the hourly aggregate
    maintained by a watermarked streaming window over ordered daily
    micro-batches, the CUSUM walk + peak pick run batch-side on the
    stream-maintained aggregate (see ``cusum_tail``). Carries the batch
    operator's oracle (pytest equality gate is the bridge), so the driver
    row is a full value-hash check."""
    from ..streaming.jobs import run_hourly_cusum_stream
    return run_hourly_cusum_stream(spark, sf_dir)


@register("streaming_hq_rollup_tail", oracle=_HQ_ROLLUP_ORACLE_REF,
          tags=("windows", "streaming", "sketch", "rollup"))
def streaming_hq_rollup_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_quantile_rollup``'s streaming twin: the mergeable
    per-day histogram states maintained by a watermarked streaming
    aggregate over ordered daily micro-batches; week merge + median walk
    batch-side over the materialized states (``scale.hq_rollup_tail``).
    Carries the batch rollup's oracle (pytest equality gate is the
    bridge), so the driver row is a full value-hash check."""
    from ..streaming.jobs import run_hq_rollup_stream
    return run_hq_rollup_stream(spark, sf_dir)


@register("streaming_funnel_tail", oracle=FUNNEL_ORACLE,
          tags=("windows", "streaming", "stateful", "funnel"))
def streaming_funnel_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``user_funnel_conversion``'s streaming twin: a per-user stage
    machine (``applyInPandasWithState``, state = stages completed + last
    step time) over the month replayed as chronological daily
    micro-batches, emitting one row per stage advance; stage-advance
    counts assemble the same bounded conversion table. Carries the BATCH
    funnel's oracle (the pytest batch==stream equality gate is the
    bridge), so the driver row is a full value-hash check."""
    from ..streaming.jobs import run_funnel_stream
    return run_funnel_stream(spark, sf_dir)


@register("streaming_stateful_dedup",
          # the arrival order is DETERMINISTIC by construction (slice k =
          # micro-batch k: originals land in slice doc_id % 4, planted
          # dups in slice 4; within a batch the operator keeps min
          # doc_id), so the first-seen winner is a pure function of the
          # data and the oracle replays it as a window over the same
          # staged union — a full value-hash check on a custom stateful
          # streaming operator
          oracle="""
    WITH staged AS (
      SELECT doc_id, text,
             CASE WHEN doc_id >= 100000 THEN 4
                  ELSE doc_id % 4 END AS slice
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id < 20
      )
    ),
    win AS (
      SELECT md5(text) AS text_hash, doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY slice, doc_id) AS rn
      FROM staged
    )
    SELECT text_hash, doc_id FROM win WHERE rn = 1
    """,
          tags=("windows", "streaming", "stateful"))
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    first-seen exact dedup over the planted-dup corpus, one emitted row per
    distinct text across ALL micro-batches (duplicates arrive in later
    batches and are swallowed by per-key state). Oracle-checked in the
    driver: the staged arrival order is deterministic, so the first-seen
    winner is SQL-replayable (see the register note); cross-incarnation
    recovery invariants stay in tests/test_streaming.py."""
    from ..streaming.jobs import run_stateful_dedup_stream
    return run_stateful_dedup_stream(spark, sf_dir)


def _neardup_gate_oracle() -> str:
    """DuckDB replay of the streaming LSH gate. Deterministic end to end:
    arrival order is staged (slice k = micro-batch k — originals in slice
    doc_id % 4, planted exact dups in slice 4), signatures are pure
    functions of the text (shared md5 double-hash scheme, the SAME CTEs
    the batch minhash oracles use), and bucket ownership is first-arrival
    = min (slice, doc_id) — ``_claim_bucket`` keeps min doc_id within the
    first trigger that sees the bucket."""
    from ..functions.text import sql_hash32, sql_hash32_hi
    from .dedup import BAND_SIZE, N_HASHES, _shingle_sql
    return f"""
    WITH staged AS (
      SELECT doc_id, text,
             CASE WHEN doc_id >= 100000 THEN 4
                  ELSE doc_id % 4 END AS slice
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id < 20
      )
    ),
    shing AS ({_shingle_sql('staged')}),
    hashed AS (
      SELECT doc_id, {sql_hash32('sh')} AS h1, {sql_hash32_hi('sh')} AS h2
      FROM shing
    ),
    seeds AS (SELECT CAST(s.range AS BIGINT) AS seed
              FROM range(0, {N_HASHES}) s),
    sigs AS (SELECT doc_id, seed,
                    MIN((h1 + seed * h2) % 4294967296) AS minhash
             FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // {BAND_SIZE} AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS bucket
      FROM sigs GROUP BY doc_id, seed // {BAND_SIZE}
    ),
    own AS (
      SELECT band, bucket, doc_id AS owner
      FROM (SELECT b.band, b.bucket, b.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY b.band, b.bucket
                                      ORDER BY st.slice, b.doc_id) AS rn
            FROM bands b JOIN staged st ON st.doc_id = b.doc_id)
      WHERE rn = 1
    )
    SELECT b.doc_id,
           CAST(SUM(CASE WHEN o.owner <> b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_bands,
           SUM(CASE WHEN o.owner <> b.doc_id THEN 1 ELSE 0 END) > 0
             AS is_candidate
    FROM bands b JOIN own o ON o.band = b.band AND o.bucket = b.bucket
    GROUP BY b.doc_id
    """


@register("streaming_neardup_gate", oracle=_neardup_gate_oracle(),
          tags=("windows", "streaming", "stateful", "dedup"))
def streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup gate (streaming twin of
    ``minhash_near_dups``): stateless per-row signatures + banding, one
    stateful bucket-ownership stage (``applyInPandasWithState``), per-doc
    candidate verdicts across micro-batches. Promoted to a FULL oracle in
    r08: the staged arrival order is deterministic and the signature math
    shares the batch minhash oracles' md5 CTEs, so first-arrival bucket
    ownership SQL-replays as a (slice, doc_id) window (see
    ``_neardup_gate_oracle``); planted-dup recall and batch agreement stay
    in tests/test_streaming.py."""
    from ..streaming.jobs import run_neardup_stream
    return run_neardup_stream(spark, sf_dir)


@register("streaming_interval_join",
          # the INNER form of interval_join_prior_events' oracle: the
          # stream-stream join emits no unmatched errors, so the twin's
          # exact contract is the batch result restricted to n_prior_1h>0
          # (pytest equality gate asserts precisely that restriction)
          oracle="""
    SELECT e1.event_id,
           COUNT(e2.event_id) AS n_prior_1h
    FROM events e1
    JOIN events e2
      ON e2.user_id = e1.user_id
     AND e2.ts >= e1.ts - INTERVAL 1 HOUR
     AND e2.ts < e1.ts
    WHERE e1.event_type = 'error'
    GROUP BY e1.event_id
    """,
          tags=("windows", "streaming", "join"))
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join (streaming twin of
    ``interval_join_prior_events``; inner — unmatched errors absent).
    Carries the INNER form of the batch join's oracle (pytest equality
    gate asserts exactly that restriction), so the driver row is a full
    value-hash check."""
    from ..streaming.jobs import run_stream_stream_join
    return run_stream_stream_join(spark, sf_dir)


@register(
    "funnel_counts",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
        AND e.ts <= t1.ts1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
        AND e.ts <= t2.ts2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT 1 AS step, 'signup' AS name,
           (SELECT COUNT(*) FROM t1) AS n_users
    UNION ALL
    SELECT 2, 'signup>click', (SELECT COUNT(*) FROM t2)
    UNION ALL
    SELECT 3, 'signup>click>purchase', (SELECT COUNT(*) FROM t3)
    """,
    tags=("windows", "funnel"),
)
def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence funnel: users whose first signup is followed
    by a click within 24h, then a purchase within 24h of that click,
    counted per step (first-touch attribution). ONE shuffle total —
    all three step timestamps are stacked conditional-min WINDOWS over the
    same user partition (each step's min is conditioned on following the
    previous step's time), then a tiny global aggregate; the join-per-step
    formulation the oracle spells out would shuffle events once per step.
    The classic behavioral-analytics op the reference's relational layer
    stops short of."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    with1 = ev.withColumn("ts1", t1)
    day = F.expr("INTERVAL 24 HOURS")
    t2 = F.min(F.when((F.col("event_type") == "click")
                      & (F.col("ts") > F.col("ts1"))
                      & (F.col("ts") <= F.col("ts1") + day),
                      F.col("ts"))).over(w)
    with2 = with1.withColumn("ts2", t2)
    t3 = F.min(F.when((F.col("event_type") == "purchase")
                      & (F.col("ts") > F.col("ts2"))
                      & (F.col("ts") <= F.col("ts2") + day),
                      F.col("ts"))).over(w)
    with3 = with2.withColumn("ts3", t3)
    per_user = (with3.groupBy("user_id")
                .agg(F.max("ts1").alias("ts1"), F.max("ts2").alias("ts2"),
                     F.max("ts3").alias("ts3")))
    steps = per_user.agg(
        F.count("ts1").alias("c1"), F.count("ts2").alias("c2"),
        F.count("ts3").alias("c3"))
    kv = F.explode(F.array(
        F.struct(F.lit(1).alias("step"), F.lit("signup").alias("name"),
                 F.col("c1").alias("n_users")),
        F.struct(F.lit(2).alias("step"), F.lit("signup>click").alias("name"),
                 F.col("c2").alias("n_users")),
        F.struct(F.lit(3).alias("step"),
                 F.lit("signup>click>purchase").alias("name"),
                 F.col("c3").alias("n_users"))))
    return (steps.select(kv.alias("s"))
            .select(F.col("s.step").cast("int").alias("step"),
                    "s.name", "s.n_users"))


@register(
    "debounced_event_counts",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id)
                     >= INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS kept
      FROM events
    )
    SELECT event_type,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped
    FROM gaps GROUP BY event_type
    """,
    tags=("windows", "throttle"),
)
def debounced_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle semantics: an event is KEPT iff it is the first of
    its (user, event_type) key or arrived >= 1h after the previous RAW
    event of that key (gap measured against the raw predecessor, not the
    previous kept event — the stateless lag formulation; ties broken by
    event_id so the verdicts are deterministic). Reported as per-type
    kept/dropped counts — the alert-fatigue / duplicate-notification
    suppression pass of an event pipeline.

    Scale: one window over (user_id, event_type) — a single exchange on
    the same key the sessionizer uses — then a 5-row aggregate.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_ok = (F.lag("ts").over(w).isNull() |
              (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
               >= 3600))
    kept = F.when(gap_ok, 1).otherwise(0)
    return (ev.withColumn("kept", kept)
            .groupBy("event_type")
            .agg(F.sum("kept").cast("long").alias("n_kept"),
                 (F.count("*") - F.sum("kept")).cast("long").alias("n_dropped")))


@register(
    "event_trigram_journeys",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events
    ),
    counted AS (
      SELECT t1, t2, t3, COUNT(*) AS n FROM seq
      WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY t1, t2, t3
    )
    SELECT t1, t2, t3, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS BIGINT) AS rn
    FROM counted
    QUALIFY rn <= 20
    """,
    tags=("windows", "sequence"),
)
def event_trigram_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the 20 most frequent consecutive 3-step
    event-type sequences across users (per-user time order, event_id
    tiebreak) — the "what do users do next" behavioral query the funnel
    operator's fixed pattern generalizes.

    Scale: one window exchange on user_id produces the trigram stream
    in-place (lead, no self-joins); the count aggregate is
    |event_type|^3-bounded, and the final top-20 is a distributed
    TakeOrderedAndProject before a 20-row rank window.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"))
    counted = (seq.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
               .groupBy("t1", "t2", "t3").agg(F.count("*").alias("n")))
    top = counted.orderBy(F.desc("n"), "t1", "t2", "t3").limit(20)
    wr = Window.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"), F.asc("t3"))
    return (top.withColumn("rn", F.row_number().over(wr).cast("long"))
            .select("t1", "t2", "t3", "n", "rn"))


@register(
    "hourly_resampled_counts",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                    (SELECT h1 FROM bounds),
                                    INTERVAL 1 HOUR)) AS hour_start
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT g.hour_start, t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_start = g.hour_start AND c.event_type = t.event_type
    """,
    tags=("windows", "resample"),
)
def hourly_resampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid resampling with zero-fill: per-(hour, event_type) event
    counts on a DENSE hourly grid spanning [min ts, max ts] — the gap-free
    series every downstream charting/anomaly job needs (a groupBy alone
    silently drops empty buckets).

    Scale: the fact table contributes one aggregate (hour x type cells);
    the grid is generated from a 1-row min/max aggregate via ``sequence``
    (rows = span hours x |types|, time-bounded, NOT data-sized) and joins
    the cells as the probe side. Zero-fill is a left join + coalesce.
    """
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                    F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = bounds.select(F.explode(F.sequence(
        "h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour_start"))
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"),
                         "event_type")
              .agg(F.count("*").alias("n")))
    return (grid.crossJoin(F.broadcast(types))
            .join(counts, ["hour_start", "event_type"], "left")
            .select("hour_start", "event_type",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))


@register(
    "daily_cumulative_events",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
    FROM daily
    """,
    tags=("windows", "running-total"),
)
def daily_cumulative_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals: per-type daily counts with a cumulative sum over
    days — the growth-curve view (events-to-date) of the tumbling family.

    Scale: the window runs over the DAILY AGGREGATE (|types| x |days|
    rows), never the raw events — the only fact-sized operation is the
    first groupBy, which partially combines map-side.
    """
    ev = table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
             .agg(F.count("*").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return daily.select("event_type", "day", "n",
                        F.sum("n").over(w).cast("long").alias("cum_n"))


#: DuckDB replay of the KEPT-gap debounce recursion (each verdict depends
#: on the previous VERDICT, not the previous row — no window expression
#: states it, but a recursive CTE walks it exactly): per (user, type) the
#: first event in (ts, event_id) order is kept, and each kept event's
#: successor is the earliest event >= 1h later. Deterministic because the
#: stream replays chronologically staged daily slices (a key's next event
#: is never in an earlier micro-batch) and the stateful gate sorts each
#: batch by (ts, event_id) — so the cross-batch sequence IS the global
#: event-time order the recursion walks.
DEBOUNCE_GATE_ORACLE = """
    WITH RECURSIVE k AS (
      (SELECT user_id, event_type, ts, event_id
       FROM (SELECT user_id, event_type, ts, event_id,
                    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) AS rn
             FROM events)
       WHERE rn = 1)
      UNION ALL
      SELECT nxt.user_id, nxt.event_type, nxt.ts, nxt.event_id
      FROM k, LATERAL (
        SELECT b.user_id, b.event_type, b.ts, b.event_id
        FROM events b
        WHERE b.user_id = k.user_id AND b.event_type = k.event_type
          AND b.ts >= k.ts + INTERVAL 1 HOUR
        ORDER BY b.ts, b.event_id
        LIMIT 1
      ) nxt
    )
    SELECT e.user_id, e.event_type, e.event_id,
           (k.event_id IS NOT NULL) AS kept
    FROM events e
    LEFT JOIN k ON k.user_id = e.user_id AND k.event_type = e.event_type
               AND k.event_id = e.event_id
    """


@register("streaming_debounce_gate", oracle=DEBOUNCE_GATE_ORACLE,
          tags=("windows", "streaming", "stateful", "throttle"))
def streaming_debounce_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key cooldown gate (``applyInPandasWithState``): the
    KEPT-gap debounce recursion (see ``streaming/jobs.run_debounce_stream``)
    — the stateful twin of the oracle-checked raw-gap
    ``debounced_event_counts``. Promoted to a FULL oracle in r08: the
    stream drains chronologically staged daily slices, so the per-key
    verdict sequence equals the global (ts, event_id)-order recursion,
    which DuckDB replays as a recursive CTE (``DEBOUNCE_GATE_ORACLE``).
    Single-batch equality with an in-pandas reference and cross-batch
    invariants stay in tests/test_streaming.py."""
    from ..streaming.jobs import run_debounce_stream
    return run_debounce_stream(spark, sf_dir)


@register(
    "hourly_anomaly_scores",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                    (SELECT h1 FROM bounds),
                                    INTERVAL 1 HOUR)) AS hour_start
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    dense AS (
      SELECT g.hour_start, t.event_type,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      FROM grid g CROSS JOIN types t
      LEFT JOIN counts c
        ON c.hour_start = g.hour_start AND c.event_type = t.event_type
    ),
    stats AS (
      SELECT event_type, {sql_dec_avg('n', 0)} AS mean_n,
             {sql_dec_std('n', 0)} AS std_n
      FROM dense GROUP BY event_type
    )
    SELECT d.hour_start, d.event_type, d.n,
           ROUND((d.n - s.mean_n) / s.std_n, 6) AS z
    FROM dense d JOIN stats s ON d.event_type = s.event_type
    WHERE ABS((d.n - s.mean_n) / s.std_n) >= 2.0
    """,
    tags=("windows", "anomaly"),
)
def hourly_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose per-type event count deviates
    >= 2 sigma from that type's mean over the DENSE hourly grid — the
    zero-filled grid matters, because a silent outage hour (n=0) is
    exactly the anomaly a sparse groupBy would never emit.

    Scale: the fact table is touched once (the hourly aggregate); the
    grid, per-type stats (decimal-exact mean/std), and z-scores all derive
    from grid-sized tables. The sigma threshold makes the output
    alert-sized.
    """
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                    F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = bounds.select(F.explode(F.sequence(
        "h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour_start"))
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"),
                         "event_type")
              .agg(F.count("*").alias("n")))
    dense = (grid.crossJoin(F.broadcast(types))
             .join(counts, ["hour_start", "event_type"], "left")
             .select("hour_start", "event_type",
                     F.coalesce("n", F.lit(0)).cast("long").alias("n")))
    stats = (dense.groupBy("event_type")
             .agg(dec_avg("n", 0).alias("mean_n"),
                  dec_std("n", 0).alias("std_n")))
    z = (F.col("n") - F.col("mean_n")) / F.col("std_n")
    return (dense.join(F.broadcast(stats), "event_type")
            .where(F.abs(z) >= 2.0)
            .select("hour_start", "event_type", "n",
                    F.round(z, 6).alias("z")))


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM firsts GROUP BY cohort_week
    ),
    active AS (
      SELECT DISTINCT f.cohort_week, e.user_id,
             CAST(datediff('week', f.cohort_week,
                           date_trunc('week', e.ts)) AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    ret AS (
      SELECT cohort_week, week_offset, COUNT(*) AS n_active
      FROM active GROUP BY cohort_week, week_offset
    )
    SELECT r.cohort_week, r.week_offset, r.n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
    """,
    tags=("windows", "cohort"),
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, then for
    each (cohort, week-offset) the count and share of the cohort still
    active — the standard retention triangle the funnel/journey operators
    don't cover.

    Scale: one window-free pass computes each user's cohort (groupBy
    user), one distinct-ifying aggregate computes (cohort, offset, user)
    activity, and everything after is cohort-x-offset-sized. The
    user-cohort table joins back to events on user_id — the same key the
    first aggregate shuffled on, so the exchange is reusable; no
    broadcast assumption (users are the big dimension at 100 TB).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    sizes = (firsts.groupBy("cohort_week")
             .agg(F.count("*").alias("cohort_size")))
    week_off = ((F.unix_date(F.to_date(F.date_trunc("week", F.col("ts"))))
                 - F.unix_date(F.to_date(F.col("cohort_week")))) / 7)
    active = (ev.join(firsts, "user_id")
              .select("cohort_week", "user_id",
                      week_off.cast("long").alias("week_offset"))
              .distinct())
    ret = (active.groupBy("cohort_week", "week_offset")
           .agg(F.count("*").alias("n_active")))
    return (ret.join(F.broadcast(sizes), "cohort_week")
            .select("cohort_week", "week_offset", "n_active",
                    F.col("cohort_size").cast("long").alias("cohort_size"),
                    F.round(F.col("n_active").cast("double")
                            / F.col("cohort_size"), 6).alias("retention")))


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t2
      FROM events
    ),
    c AS (SELECT t1, t2, COUNT(*) AS n FROM seq
          WHERE t2 IS NOT NULL GROUP BY t1, t2),
    tot AS (SELECT t1, SUM(n) AS n1 FROM c GROUP BY t1)
    SELECT c.t1, c.t2, c.n,
           ROUND(CAST(c.n AS DOUBLE) / tot.n1, 6) AS p
    FROM c JOIN tot ON c.t1 = tot.t1
    """,
    tags=("windows", "sequence", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next = t2 | current = t1) with counts — the behavioral-model summary
    the trigram miner's raw sequences roll up to.

    Scale: one lead-window exchange on user_id; everything after is
    |event_type|^2-sized. The probability divides two exact integers —
    bit-identical across engines.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("t1"),
                    F.lead("event_type").over(w).alias("t2"))
    c = (seq.where(F.col("t2").isNotNull())
         .groupBy("t1", "t2").agg(F.count("*").alias("n")))
    tot = c.groupBy("t1").agg(F.sum("n").alias("n1"))
    return (c.join(F.broadcast(tot), "t1")
            .select("t1", "t2", "n",
                    F.round(F.col("n").cast("double") / F.col("n1"), 6)
                     .alias("p")))


@register(
    "decayed_user_scores",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    terms AS (
      SELECT user_id,
             value * EXP(-(CAST(epoch_us((SELECT tmax FROM mx)) - epoch_us(ts)
                           AS DOUBLE) / 1e6) / 604800.0) AS w
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(CAST(SUM(CAST(w AS DECIMAL(27,18))) AS VARCHAR)
                      AS DOUBLE), 6) AS decayed_score
    FROM terms GROUP BY user_id
    """,
    tags=("windows", "decay"),
)
def decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity: per user the sum of ``value`` decayed
    exponentially with age (one-week time constant, anchored at the
    corpus max ts) — the freshness-weighted engagement score every
    ranking/retention model starts from.

    Scale: the anchor is a 1-row aggregate broadcast into the scan; the
    per-event weight is a deterministic double (identical exp inputs on
    both engines), summed in DECIMAL so the per-user totals are exact and
    order-independent; one map-side-combined groupBy.
    """
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    mx = ev.agg(F.max("ts").alias("tmax"))
    age_s = (F.unix_micros("tmax") - F.unix_micros("ts")).cast("double") / F.lit(1e6)
    terms = (ev.crossJoin(F.broadcast(mx))
             .select("user_id",
                     (F.col("value") * F.exp(-age_s / F.lit(604800.0)))
                      .alias("w")))
    return (terms.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.round(F.sum(F.col("w").cast("decimal(27,18)"))
                         .cast("string").cast("double"), 6)
                  .alias("decayed_score")))


@register(
    "user_event_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, SUM(n) AS nt FROM c GROUP BY user_id),
    terms AS (
      SELECT c.user_id,
             -(CAST(c.n AS DOUBLE) / tot.nt) * LN(CAST(c.n AS DOUBLE) / tot.nt)
               AS h
      FROM c JOIN tot ON c.user_id = tot.user_id
    )
    SELECT user_id,
           ROUND(CAST(CAST(SUM(CAST(h AS DECIMAL(27,18))) AS VARCHAR)
                      AS DOUBLE), 6) AS entropy
    FROM terms GROUP BY user_id
    """,
    tags=("windows", "entropy"),
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    distribution (nats) — 0 for single-behavior users, ln(5) for uniform —
    the segmentation feature separating specialists from generalists.

    Scale: one (user, type) aggregate; per-user totals derive from those
    ≤ |users| x |types| rows on the same user_id partitioning; the p·ln p
    terms are deterministic doubles summed in DECIMAL.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("user_id").agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("nt")
    terms = c.join(tot, "user_id").select("user_id", (-p * F.log(p)).alias("h"))
    return (terms.groupBy("user_id")
            .agg(F.round(F.sum(F.col("h").cast("decimal(27,18)"))
                         .cast("string").cast("double"), 6).alias("entropy")))


@register(
    "hourly_session_concurrency",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 6 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ),
    sessions AS (
      SELECT user_id, session_no,
             date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM numbered GROUP BY user_id, session_no
    ),
    covered AS (
      SELECT s.user_id,
             unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS hour_start
      FROM sessions s
    )
    SELECT hour_start, COUNT(*) AS n_active_sessions
    FROM covered GROUP BY hour_start
    """,
    tags=("windows", "interval", "concurrency"),
)
def hourly_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap aggregation: how many 6h-gap sessions are ACTIVE in
    each hour (a session covers every hour bucket from its first to its
    last event) — the capacity-planning / peak-concurrency view that
    point-in-time counts miss.

    Scale: sessions derive from one user-partitioned window pass; each
    session explodes into its covered hour buckets (bounded by session
    length — watermarked 6h-gap sessions cannot grow unboundedly), and the
    final count partially combines map-side. This trades the classic
    sweep-line's GLOBAL boundary sort (a single-partition running sum) for
    a bounded explode — the shape that survives 1000 executors.
    """
    ev = table(spark, sf_dir, "events")
    sess = (ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
            .agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                 F.date_trunc("hour", F.max("ts")).alias("h1")))
    covered = sess.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR")))
         .alias("hour_start"))
    return (covered.groupBy("hour_start")
            .agg(F.count("*").alias("n_active_sessions")))


@register(
    "weekly_growth_by_type",
    oracle="""
    WITH wk AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, n, prev_n, wow_growth FROM (
      SELECT event_type, week, n,
             CAST(lag(n) OVER (PARTITION BY event_type ORDER BY week)
                  AS BIGINT) AS prev_n,
             ROUND(CAST(n AS DOUBLE) /
                   lag(n) OVER (PARTITION BY event_type ORDER BY week) - 1.0, 6)
               AS wow_growth
      FROM wk
    ) WHERE prev_n IS NOT NULL
    """,
    tags=("windows", "growth"),
)
def weekly_growth_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly counts with the lag
    ratio — the reporting twin of the PSI drift monitor (how MUCH did
    volume move, not just whether the distribution shifted). Null growth on
    each type's first week, by definition.

    Scale: the window runs over the weekly aggregate (|types| x |weeks|
    rows); the growth ratio divides two exact integers. Each type's
    first week has no predecessor and is dropped (standard growth-table
    convention).
    """
    ev = table(spark, sf_dir, "events")
    wk = (ev.groupBy("event_type",
                     F.date_trunc("week", F.col("ts")).alias("week"))
          .agg(F.count("*").alias("n")))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return (wk.select(
        "event_type", "week", "n",
        prev.cast("long").alias("prev_n"),
        F.round(F.col("n").cast("double") / prev - F.lit(1.0), 6)
         .alias("wow_growth"))
        .where(F.col("prev_n").isNotNull()))


@register("streaming_upsert_compaction", oracle=_LATEST_EVENT_ORACLE_REF,
          tags=("windows", "streaming", "cdc"))
def streaming_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC upsert sink: micro-batches MERGE latest-per-user
    rows into a parquet state table (read-modify-write compaction — the
    idempotent upsert pattern without a transactional table format).
    Carries the batch ``latest_event_per_user`` oracle (pytest equality
    gate is the bridge), so the driver row is a full value-hash check."""
    from ..streaming.jobs import run_upsert_stream
    return run_upsert_stream(spark, sf_dir)


# --- round 4: SCD-2 validity intervals ---------------------------------------

@register(
    "scd2_user_intervals",
    oracle="""
    SELECT user_id, event_id, event_type, ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "scd", "temporal"),
)
def scd2_user_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from a change log: each event becomes a
    VERSION row with a validity interval — ``valid_from`` = its timestamp,
    ``valid_to`` = the user's next change (open/null on the current row).
    This is how a warehouse turns an append-only CDC feed into a
    point-in-time-joinable dimension (the as-of joins in operators/asof.py
    are the read side; this is the build side).

    Scale: ONE hash shuffle on user_id and one in-partition sort — the
    same plan class as ``latest_event_per_user``; no self-join, no range
    explosion. Interval half-open [from, to) by construction, so versions
    tile each user's timeline with no overlap (tested)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select("user_id", "event_id", "event_type",
                     F.col("ts").alias("valid_from"),
                     nxt.alias("valid_to"),
                     nxt.isNull().alias("is_current"))


@register(
    "rolling_7d_distinct_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
    FROM days d JOIN ud u ON u.day >= d.day - 6 AND u.day <= d.day
    GROUP BY 1
    """,
    tags=("windows", "rolling", "distinct"),
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT active users per event day — the sliding
    DAU/WAU overlap metric. DISTINCT does not decompose over sliding
    windows the way SUM/COUNT do (rolling_7d_user_value), so the plan
    inverts the window: dedupe to (user, day) once, then each user-day
    CONTRIBUTES itself to the 7 window-ends it falls inside (a bounded
    calendar explode, x7) and one COUNT(DISTINCT) groups by window end.
    Output keeps only days that actually have events (inner semi join),
    matching the oracle's range-join formulation.

    Scale: the explode factor is the window length (a compile-time
    constant), applied AFTER the (user, day) dedupe — the shuffled volume
    is 7x distinct user-days, never 7x raw events; the final distinct
    aggregate is one Expand shuffle keyed by day. No per-user window, no
    range join."""
    ud = (table(spark, sf_dir, "events")
          .select("user_id", F.to_date("ts").alias("day"))
          .distinct())
    days = ud.select("day").distinct()
    contrib = (ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day")
        .select("user_id", F.date_add(F.col("day"), F.col("off"))
                .alias("wday")))
    return (contrib
            .join(days.withColumnRenamed("day", "wday"), "wday", "left_semi")
            .groupBy(F.col("wday").alias("day"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("n_users_7d")))


@register(
    "twa_value_per_user",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(27,6)) AS v,
             epoch_us(ts) AS t,
             LEAD(epoch_us(ts)) OVER w AS t_next
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us,
           CAST(CAST(SUM(v * (t_next - t)) AS VARCHAR) AS DOUBLE)
             / CAST(MAX(t) - MIN(t) AS DOUBLE) AS twa_value
    FROM seg GROUP BY user_id
    HAVING MAX(t) > MIN(t)
    """,
    tags=("window", "temporal", "twa"),
)
def twa_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average of ``value`` per user — the irregular-series
    integral (TWAP/gauge-metric semantics): each observation holds until
    the user's next one (step interpolation), so the mean weights each
    value by how long it was current, not by how often it was sampled —
    the correction plain AVG gets wrong whenever sampling is bursty.
    sum(v * dt) runs in DECIMAL (exact, order-independent); the final
    division is one IEEE op on bit-identical inputs. Users with a single
    observation have no duration and are excluded (HAVING span > 0);
    the open-ended last segment contributes no weight by construction
    (LEAD is null), mirrored exactly in the oracle.

    Scale: the same one-shuffle plan class as scd2_user_intervals — one
    hash exchange on user_id, one in-partition sort, one aggregate; no
    self-join, no range explosion, segment arithmetic all JVM-side."""
    ev = (table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select("user_id", "event_id", "ts",
                  F.col("value").cast("decimal(27,6)").alias("v"),
                  F.unix_micros("ts").alias("t")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.withColumn("t_next", F.lead("t").over(w))
    span = F.max("t") - F.min("t")
    return (seg.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_obs"),
                 span.cast("long").alias("span_us"),
                 (F.sum(F.col("v") * (F.col("t_next") - F.col("t")))
                  .cast("string").cast("double")
                  / span.cast("double")).alias("twa_value"))
            .where(F.col("span_us") > 0))


# --- round 6: ordered funnel conversion ---------------------------------------

#: funnel step sequence: a user reaches step k+1 only with an event of
#: that type STRICTLY AFTER their step-k time (min qualifying ts).
@register(
    "user_funnel_conversion",
    oracle=FUNNEL_ORACLE,
    tags=("windows", "funnel", "stats"),
)
def user_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users progress {FUNNEL_STEPS[0]} ->
    {FUNNEL_STEPS[1]} -> {FUNNEL_STEPS[2]}, each step requiring an event
    of that type STRICTLY AFTER the user's previous-step time (min
    qualifying timestamp) — the product-analytics conversion table, with
    step-over-step rates. Ties at the exact boundary timestamp do not
    advance the funnel (strict >), identically in both engines.

    Scale: three type-filtered scans (the event_type predicate pushes to
    the parquet dictionary, so each scan reads one type's row groups),
    each aggregating straight to user cardinality; the step joins are
    user-keyed between those aggregates — never an event-level self-join,
    and no per-user event list is ever collected (the sorted-list funnel
    breaks on power users at 100 TB; the min-time recurrence needs only
    one timestamp of state per step)."""
    ev = table(spark, sf_dir, "events")
    v, c, p = funnel_min_times(ev, FUNNEL_STEPS)
    # one 1-row materialization: a
    # 3-branch union of selects over the counts frame would replicate the
    # whole funnel subtree per branch (measured 74 Exchange nodes); the
    # counts are O(1), so collect once and emit the bounded 3-row table
    # as a local relation. ROUND runs on bit-identical doubles both sides.
    n1, n2, n3 = (v.agg(F.count("*"))
                  .crossJoin(c.agg(F.count("*")))
                  .crossJoin(p.agg(F.count("*"))).first())
    # all-defined conversions (no NULL cells: a NULL crashes naive row
    # sorters in downstream canonicalizers): step 1 converts from its own
    # population (1.0, or 0.0 on an empty funnel); an empty previous step
    # reports 0.0.  round_half_up, NOT round(): Python's banker's rounding
    # diverges from the oracle's SQL ROUND on dyadic midpoints (1/128).
    conv = lambda num, den: (0.0 if den == 0
                             else round_half_up(float(num) / float(den), 6))
    return spark.createDataFrame(
        [(1, FUNNEL_STEPS[0], int(n1), 1.0 if n1 else 0.0),
         (2, FUNNEL_STEPS[1], int(n2), conv(n2, n1)),
         (3, FUNNEL_STEPS[2], int(n3), conv(n3, n2))],
        "step int, event_type string, n_users long, conv_from_prev double")


def funnel_min_times(ev: DataFrame, steps: tuple[str, ...]) -> list[DataFrame]:
    """The min-qualifying-time recurrence for an ARBITRARY ordered step
    sequence: frame k holds (user_id, t{k+1}) — the earliest time the user
    completed step k+1 having completed every prior step strictly earlier.
    Shared by the conversion table (counts) and the step-timing table
    (deltas between consecutive frames); parameterized so callers can run
    any funnel, not just the default {FUNNEL_STEPS}."""
    frames: list[DataFrame] = []
    for k, etype in enumerate(steps):
        e = ev.where(F.col("event_type") == etype)
        if frames:
            prev = frames[-1]
            pcol = prev.columns[1]
            e = e.join(prev, "user_id").where(F.col("ts") > F.col(pcol))
        frames.append(e.groupBy("user_id").agg(F.min("ts").alias(f"t{k + 1}")))
    return frames


@register(
    "funnel_step_timing",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, v.t1, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > v.t1 GROUP BY 1, 2
    ),
    p AS (
      SELECT e.user_id, c.t2, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > c.t2 GROUP BY 1, 2
    ),
    d2 AS (SELECT epoch_us(t2) - epoch_us(t1) AS d_us FROM c),
    d3 AS (SELECT epoch_us(t3) - epoch_us(t2) AS d_us FROM p)
    SELECT 2 AS step, '{FUNNEL_STEPS[1]}' AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(d_us, 0.5) / 3.6e9, 6) AS median_hours,
           ROUND(quantile_cont(d_us, 0.95) / 3.6e9, 6) AS p95_hours
    FROM d2
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', CAST(COUNT(*) AS BIGINT),
           ROUND(quantile_cont(d_us, 0.5) / 3.6e9, 6),
           ROUND(quantile_cont(d_us, 0.95) / 3.6e9, 6)
    FROM d3
    """,
    tags=("windows", "funnel", "stats"),
)
def funnel_step_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per funnel step: for users who advanced to step k,
    the median and p95 of (step-k time - step-(k-1) time) — the latency
    companion to ``user_funnel_conversion``'s rate table (the growth
    question is not only HOW MANY convert but HOW LONG the hesitation
    window is, which sets retargeting deadlines).

    Both engines keep the deltas in integer MICROSECONDS until the final
    division (the ``user_interarrival_stats`` exactness precedent:
    interpolated percentiles over identical integer multisets are
    bit-identical doubles), and the min-time frames come from the shared
    parameterized recurrence ``funnel_min_times``.

    Scale: identical to the conversion table — type-filtered scans to
    user cardinality, user-keyed joins between per-user aggregates. Each
    step frame CARRIES the previous step's time (groupBy (user, t_prev),
    exact because t_prev is functionally dependent on user), so the delta
    needs no extra join; intermediate frames referenced by both a later
    step's lineage and their own delta branch are consumer-retained
    (user-cardinality, bounded) rather than letting the union replicate
    the event-scan subtree per branch — the 74-Exchange failure mode the
    conversion table's docstring documents. Exact per-step percentiles
    run over |converted users| rows in TWO groups, the
    `percentile`/`quantile_cont` parity precedent."""
    from ..plans.registry import retain_for_consumer
    ev = table(spark, sf_dir, "events")
    steps = FUNNEL_STEPS
    prev = (ev.where(F.col("event_type") == steps[0])
            .groupBy("user_id").agg(F.min("ts").alias("t1")))
    out = None
    for k in range(1, len(steps)):
        pcol, ccol = f"t{k}", f"t{k + 1}"
        cur = (ev.where(F.col("event_type") == steps[k])
               .join(prev.select("user_id", pcol), "user_id")
               .where(F.col("ts") > F.col(pcol))
               .groupBy("user_id", pcol)
               .agg(F.min("ts").alias(ccol)))
        if k < len(steps) - 1:
            cur = retain_for_consumer(cur)
        d = cur.select((F.unix_micros(F.col(ccol))
                        - F.unix_micros(F.col(pcol))).alias("d_us"))
        step = (d.agg(F.count("*").cast("long").alias("n_users"),
                      F.round(F.expr("percentile(d_us, 0.5)") / 3.6e9, 6)
                       .alias("median_hours"),
                      F.round(F.expr("percentile(d_us, 0.95)") / 3.6e9, 6)
                       .alias("p95_hours"))
                .select(F.lit(k + 1).cast("int").alias("step"),
                        F.lit(steps[k]).alias("event_type"),
                        "n_users", "median_hours", "p95_hours"))
        out = step if out is None else out.unionByName(step)
        prev = cur
    return out


@register(
    "last_touch_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv,
             CASE WHEN event_type = 'purchase' THEN NULL
                  ELSE printf('%020d|%020d|%s', epoch_us(ts), event_id,
                              event_type) END AS touch_key
      FROM events
    ),
    o AS (
      SELECT is_conv, epoch_us(ts) AS us,
             MAX(touch_key) OVER (
               PARTITION BY user_id
               ORDER BY ts, is_conv DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
      FROM u
    ),
    attr AS (
      SELECT CASE WHEN lt IS NULL THEN 'direct'
                  WHEN CAST(substr(lt, 1, 20) AS BIGINT)
                       < us - 604800000000::BIGINT THEN 'direct'
                  ELSE split_part(lt, '|', 3) END AS touch_type
      FROM o WHERE is_conv = 1
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM attr), 6) AS share
    FROM attr GROUP BY touch_type
    """,
    tags=("windows", "attribution", "stats"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    user's LATEST strictly-earlier non-purchase event within a 7-day
    lookback — purchases with no qualifying touch (first event, or the
    last touch aged out) credit 'direct'. The table answers which
    interaction type actually precedes revenue, the question the funnel
    (fixed step order) and the transition matrix (adjacent pairs only)
    both miss.

    Engine parity without an event-level self-join: the latest-prior
    touch is a running MAX over a zero-padded sortable string
    (epoch_us|event_id|type — lexicographic order == (ts, event_id)
    order), computed per user with a rows-frame ending at 1 PRECEDING;
    same-timestamp touches sort AFTER the purchase (ORDER BY ts,
    is_conv DESC) so strict-< is enforced by the frame, identically in
    both engines, and event_id breaks ties deterministically.

    Scale: ONE exchange on user_id + per-partition sort (the
    interarrival/sessionize shape) — the window carries a bounded string
    per row, never an event list; the result aggregates to |event types|
    + 1 rows. The 1-row total for the share joins back as a broadcast
    (scalar subquery both sides)."""
    ev = table(spark, sf_dir, "events")
    is_conv = (F.col("event_type") == "purchase").cast("int")
    touch_key = F.when(
        F.col("event_type") != "purchase",
        F.format_string("%020d|%020d|%s", F.unix_micros("ts"),
                        F.col("event_id"), F.col("event_type")))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", F.desc("is_conv"), "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    o = (ev.select("user_id", "ts", "event_id",
                   is_conv.alias("is_conv"), touch_key.alias("touch_key"))
         .select("is_conv", F.unix_micros("ts").alias("us"),
                 F.max("touch_key").over(w).alias("lt")))
    attr = (o.where(F.col("is_conv") == 1)
            .select(F.when(F.col("lt").isNull(), "direct")
                    .when(F.substring("lt", 1, 20).cast("long")
                          < F.col("us") - 7 * 86400 * 1000000, "direct")
                    .otherwise(F.element_at(F.split("lt", "\\|"), 3))
                    .alias("touch_type")))
    counts = attr.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_conversions"))
    # total via an unpartitioned window OVER THE AGGREGATE: counts is
    # bounded at |event types| + 1 rows, so the SinglePartition window is
    # O(types) — a separate total-aggregate branch would replicate the
    # full event-window subtree into a second scan (measured: 2 scans +
    # 2 window sorts in the crossJoin(broadcast(total)) formulation)
    wt = Window.partitionBy()
    return counts.select(
        "touch_type", "n_conversions",
        F.round(F.col("n_conversions") * 1.0
                / F.sum("n_conversions").over(wt), 6).alias("share"))


@register(
    "ab_test_lift",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    assigned AS (
      SELECT f.user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(f.user_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN e.event_type = 'purchase' AND e.ts > f.t0
                       AND e.ts <= f.t0 + INTERVAL 24 HOUR
                      THEN 1 ELSE 0 END) AS converted
      FROM fv f JOIN events e ON e.user_id = f.user_id
      GROUP BY 1, 2
    ),
    v AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_b,
        CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_b
      FROM assigned
    )
    SELECT n_a, conv_a,
           CASE WHEN n_a = 0 THEN 0.0
                ELSE ROUND(conv_a / CAST(n_a AS DOUBLE), 6) END AS rate_a,
           n_b, conv_b,
           CASE WHEN n_b = 0 THEN 0.0
                ELSE ROUND(conv_b / CAST(n_b AS DOUBLE), 6) END AS rate_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
                ELSE ROUND(conv_b / CAST(n_b AS DOUBLE)
                           - conv_a / CAST(n_a AS DOUBLE), 6)
           END AS abs_lift,
           CASE WHEN n_a = 0 OR n_b = 0
                  OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                THEN 0.0
                ELSE ROUND((conv_b / CAST(n_b AS DOUBLE)
                            - conv_a / CAST(n_a AS DOUBLE))
                           / SQRT(((conv_a + conv_b)
                                   / CAST(n_a + n_b AS DOUBLE))
                                  * (1.0 - (conv_a + conv_b)
                                           / CAST(n_a + n_b AS DOUBLE))
                                  * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_score
    FROM v
    """,
    tags=("windows", "experiment", "stats"),
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test analysis: users hash-split into two variants (the
    ``hash_split_counts`` md5-bucket convention on user_id, so assignment
    is a pure deterministic function — no experiment-assignment table in
    the fixture), per-variant conversion rates, absolute lift, and the
    two-proportion pooled z-score — the readout a growth team runs after
    funnel/attribution/LTV (r07 verdict ask #6). Conversion is 'purchase
    within 24h of the user's FIRST view' (population: users with >= 1
    view) — every fixture user eventually purchases, so the unwindowed
    rate is degenerately 1.0; the windowed definition has real variance
    at every SF (8/15 at sf0.001, 63/150 at sf0.01).

    Engine parity on the z-score is EXACT-EXPRESSION, not tolerance: both
    engines build the statistic from the same four integers (n_a, c_a,
    n_b, c_b) with the identical operand-ordered double expression
    (pb - pa) / sqrt(p*(1-p)*(1/n_a + 1/n_b)) — every IEEE op
    (div/mul/add/sqrt) is correctly rounded, so identical inputs and
    shape give bit-identical doubles (the dec_std/SQRT precedent), and
    the final ROUND(6) is far from any representable boundary.

    Scale: ONE exchange — events shuffle by user_id once for the
    first-view window; the conversion flag is a conditional MAX over the
    same partition (the ``funnel_counts`` stacked-window shape, no
    join-back), the per-user groupBy reuses that partitioning, variants
    derive from the key itself, and the final aggregate is a single
    row. The same user-keyed single-exchange shape as
    ``last_touch_attribution``."""
    from ..functions.text import hash32
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t0 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    day = F.expr("INTERVAL 24 HOURS")
    rows = ev.select(
        "user_id", t0.alias("t0"),
        F.when((F.col("event_type") == "purchase")
               & (F.col("ts") > t0) & (F.col("ts") <= t0 + day), 1)
         .otherwise(0).alias("c"))
    per_user = (rows.where(F.col("t0").isNotNull())
                .groupBy("user_id").agg(F.max("c").alias("converted")))
    assigned = per_user.select(
        F.when(hash32(F.col("user_id").cast("string")) % 2 == 0, "A")
         .otherwise("B").alias("variant"), "converted")
    v = assigned.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
         .cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("converted"))
              .otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
         .cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("converted"))
              .otherwise(0)).cast("long").alias("conv_b"))
    pa = F.col("conv_a") / F.col("n_a").cast("double")
    pb = F.col("conv_b") / F.col("n_b").cast("double")
    p = ((F.col("conv_a") + F.col("conv_b"))
         / (F.col("n_a") + F.col("n_b")).cast("double"))
    se = F.sqrt(p * (F.lit(1.0) - p)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    conv_tot = F.col("conv_a") + F.col("conv_b")
    # degenerate experiments, pinned 0.0 IDENTICALLY in both engines:
    # (a) an empty variant (n_a or n_b = 0 — Spark's x/0 double division
    #     is NULL while DuckDB's is NaN/Inf, so the raw expressions would
    #     diverge; unreachable on the md5-split fixture but unpinned was
    #     the r08 advisor finding), and
    # (b) pooled rate 0 or 1 (zero variance -> z undefined; e.g. every
    #     fixture user purchases at sf0.001)
    empty_arm = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    z = (F.when(empty_arm
                | (conv_tot == 0)
                | (conv_tot == F.col("n_a") + F.col("n_b")), F.lit(0.0))
         .otherwise(F.round((pb - pa) / se, 6)))
    return v.select(
        "n_a", "conv_a",
        F.when(F.col("n_a") == 0, F.lit(0.0))
         .otherwise(F.round(pa, 6)).alias("rate_a"),
        "n_b", "conv_b",
        F.when(F.col("n_b") == 0, F.lit(0.0))
         .otherwise(F.round(pb, 6)).alias("rate_b"),
        F.when(empty_arm, F.lit(0.0))
         .otherwise(F.round(pb - pa, 6)).alias("abs_lift"),
        z.alias("z_score"))


@register(
    "ab_test_cuped",
    oracle="""
    WITH obs AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
      FROM events
    ),
    pu AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             SUM(CAST(CASE WHEN epoch_us(ts) < (SELECT mid FROM obs)
                           THEN value ELSE 0 END AS DECIMAL(18,6))) AS x,
             SUM(CAST(CASE WHEN epoch_us(ts) >= (SELECT mid FROM obs)
                           THEN value ELSE 0 END AS DECIMAL(18,6))) AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_b,
        CAST(CAST(SUM(CASE WHEN variant = 'A' THEN x END) AS VARCHAR)
             AS DOUBLE) AS sx_a,
        CAST(CAST(SUM(CASE WHEN variant = 'B' THEN x END) AS VARCHAR)
             AS DOUBLE) AS sx_b,
        CAST(CAST(SUM(CASE WHEN variant = 'A' THEN y END) AS VARCHAR)
             AS DOUBLE) AS sy_a,
        CAST(CAST(SUM(CASE WHEN variant = 'B' THEN y END) AS VARCHAR)
             AS DOUBLE) AS sy_b,
        CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                           AS DECIMAL(33,12))) AS VARCHAR) AS DOUBLE) AS sxx,
        CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                           AS DECIMAL(33,12))) AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                           AS DECIMAL(33,12))) AS VARCHAR) AS DOUBLE) AS syy
      FROM pu
    ),
    d AS (
      SELECT n_a, n_b, sx_a, sx_b, sy_a, sy_b,
             CAST(n_a + n_b AS DOUBLE) AS n,
             sxy - (sx_a + sx_b) * (sy_a + sy_b) / CAST(n_a + n_b AS DOUBLE)
               AS ss_xy,
             sxx - (sx_a + sx_b) * (sx_a + sx_b) / CAST(n_a + n_b AS DOUBLE)
               AS ss_xx,
             syy - (sy_a + sy_b) * (sy_a + sy_b) / CAST(n_a + n_b AS DOUBLE)
               AS ss_yy
      FROM m
    )
    SELECT n_a, n_b,
           ROUND(sy_b / n_b - sy_a / n_a, 6) AS diff_raw,
           CASE WHEN ss_xx <= 0.0 THEN 0.0
                ELSE ROUND(ss_xy / ss_xx, 6) END AS theta,
           CASE WHEN ss_xx <= 0.0
                THEN ROUND(sy_b / n_b - sy_a / n_a, 6)
                ELSE ROUND((sy_b / n_b - (ss_xy / ss_xx)
                            * (sx_b / n_b - (sx_a + sx_b) / n))
                           - (sy_a / n_a - (ss_xy / ss_xx)
                              * (sx_a / n_a - (sx_a + sx_b) / n)), 6)
           END AS diff_cuped,
           CASE WHEN ss_xx <= 0.0 OR ss_yy <= 0.0 THEN 0.0
                ELSE ROUND(ss_xy * ss_xy / (ss_xx * ss_yy), 6)
           END AS var_reduction
    FROM d
    """,
    tags=("windows", "experiment", "stats"),
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    standard industry companion to ``ab_test_lift``): each user's
    pre-period covariate X (total event value before the observation
    midpoint) adjusts their post-period metric Y, theta = SS_xy/SS_xx
    pooled, removing rho^2 of the metric variance
    (var_reduction = rho^2). Reported: raw and CUPED-adjusted
    between-variant mean differences.

    Exactness: X and Y are per-user DECIMAL(18,6) sums; the pooled
    second moments (SS_xx, SS_xy, SS_yy) are decimal-product sums cast
    through VARCHAR to double (the ``sql_dec_std`` precedent, DECIMAL(19)
    operands on the DuckDB side for int128 multiply) — so both engines
    derive theta and the adjusted means from bit-identical doubles with
    the same operand-ordered expression. The midpoint is integer
    microseconds ((min+max) DIV 2).

    Scale: ONE exchange on user_id (map-side-combinable conditional
    decimal sums), then a single-row moment aggregate; nothing after the
    per-user collapse exceeds |users| rows."""
    from ..functions.text import hash32
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    bounds = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).select(
        F.expr("(unix_micros(mn) + unix_micros(mx)) div 2").alias("mid"))
    pre = F.unix_micros("ts") < F.col("mid")
    pu = (ev.crossJoin(F.broadcast(bounds))
          .groupBy("user_id")
          .agg(F.sum(F.when(pre, F.col("value")).otherwise(F.lit(0.0))
                     .cast("decimal(18,6)")).alias("x"),
               F.sum(F.when(~pre, F.col("value")).otherwise(F.lit(0.0))
                     .cast("decimal(18,6)")).alias("y"))
          .select(F.when(hash32(F.col("user_id").cast("string")) % 2 == 0,
                         "A").otherwise("B").alias("variant"), "x", "y"))
    # Spark operands stay DECIMAL(18,6): 18+18+1 = 37 <= 38 keeps the
    # 12-decimal product EXACT (19-digit operands would push precision to
    # 39 and Spark silently reduces the scale to 11, truncating the last
    # product digit); the DuckDB side uses DECIMAL(19) to force int128
    # multiply — same values, the sql_dec_std convention.
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")

    def dsum(c):  # decimal -> varchar -> double (correctly rounded strtod)
        return F.sum(c).cast("string").cast("double")

    m = pu.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
         .cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
         .cast("long").alias("n_b"),
        dsum(F.when(F.col("variant") == "A", F.col("x"))).alias("sx_a"),
        dsum(F.when(F.col("variant") == "B", F.col("x"))).alias("sx_b"),
        dsum(F.when(F.col("variant") == "A", F.col("y"))).alias("sy_a"),
        dsum(F.when(F.col("variant") == "B", F.col("y"))).alias("sy_b"),
        dsum((xd * xd).cast("decimal(33,12)")).alias("sxx"),
        dsum((xd * yd).cast("decimal(33,12)")).alias("sxy"),
        dsum((yd * yd).cast("decimal(33,12)")).alias("syy"))
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    sx = F.col("sx_a") + F.col("sx_b")
    sy = F.col("sy_a") + F.col("sy_b")
    d = m.select(
        "n_a", "n_b", "sx_a", "sx_b", "sy_a", "sy_b", n.alias("n"),
        (F.col("sxy") - sx * sy / n).alias("ss_xy"),
        (F.col("sxx") - sx * sx / n).alias("ss_xx"),
        (F.col("syy") - sy * sy / n).alias("ss_yy"))
    diff_raw = F.col("sy_b") / F.col("n_b") - F.col("sy_a") / F.col("n_a")
    theta = F.col("ss_xy") / F.col("ss_xx")
    mx_pool = (F.col("sx_a") + F.col("sx_b")) / F.col("n")
    adj_b = (F.col("sy_b") / F.col("n_b")
             - theta * (F.col("sx_b") / F.col("n_b") - mx_pool))
    adj_a = (F.col("sy_a") / F.col("n_a")
             - theta * (F.col("sx_a") / F.col("n_a") - mx_pool))
    degenerate_x = F.col("ss_xx") <= 0.0
    return d.select(
        "n_a", "n_b",
        F.round(diff_raw, 6).alias("diff_raw"),
        F.when(degenerate_x, F.lit(0.0))
         .otherwise(F.round(theta, 6)).alias("theta"),
        F.when(degenerate_x, F.round(diff_raw, 6))
         .otherwise(F.round(adj_b - adj_a, 6)).alias("diff_cuped"),
        F.when(degenerate_x | (F.col("ss_yy") <= 0.0), F.lit(0.0))
         .otherwise(F.round(F.col("ss_xy") * F.col("ss_xy")
                            / (F.col("ss_xx") * F.col("ss_yy")), 6))
         .alias("var_reduction"))


@register(
    "nelson_aalen_hazard",
    oracle="""
    WITH t0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    obs AS (SELECT MAX(ts) AS t_end FROM events),
    ev AS (
      SELECT f.user_id, MIN(e.ts) AS t_ev
      FROM t0 f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND e.ts > f.t0
      GROUP BY 1
    ),
    dur AS (
      SELECT f.user_id,
             CASE WHEN ev.t_ev IS NULL
                  THEN epoch_us((SELECT t_end FROM obs)) - epoch_us(f.t0)
                  ELSE epoch_us(ev.t_ev) - epoch_us(f.t0) END AS t_us,
             CASE WHEN ev.t_ev IS NULL THEN 0 ELSE 1 END AS is_event
      FROM t0 f LEFT JOIN ev ON ev.user_id = f.user_id
    ),
    g AS (
      SELECT t_us, CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(is_event) AS BIGINT) AS n_events
      FROM dur GROUP BY t_us
    ),
    r AS (
      SELECT t_us, n_events,
             CAST((SELECT COUNT(*) FROM dur) AS BIGINT)
               - CAST(COALESCE(SUM(n_all) OVER (ORDER BY t_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_risk
      FROM g
    ),
    h AS (
      SELECT t_us, n_risk, n_events,
             CAST(FLOOR(CAST(n_events AS DOUBLE) / n_risk * 1000000.0
                        + 0.5) AS BIGINT) AS hz_micro
      FROM r WHERE n_events > 0
    )
    SELECT t_us, n_risk, n_events,
           CAST(SUM(hz_micro) OVER (ORDER BY t_us) AS BIGINT)
             AS cum_hazard_micro,
           CAST(SUM(hz_micro) OVER (ORDER BY t_us) AS BIGINT) / 1000000.0
             AS cum_hazard
    FROM h
    """,
    tags=("windows", "survival", "stats"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis for time-to-convert: the Nelson-Aalen cumulative
    hazard over 'first purchase strictly after first view', right-censored
    at the observation-window end (the corpus MAX(ts)) — the
    retention-team view ab_test_lift's point rate collapses: WHEN do
    users convert, with non-converts handled correctly instead of
    dropped. One row per distinct event duration: at-risk count, event
    count, cumulative hazard.

    Exactness design (why Nelson-Aalen, not Kaplan-Meier): the KM
    survival product needs EXP(SUM(LN(...))) — libm ln/exp are not
    correctly rounded and DuckDB's windowed SUM is segment-tree ordered,
    so float cumulative sums are NOT reproducible across engines. The
    N-A hazard avoids both: each increment d/n is quantized to INTEGER
    micro-hazards with the identical floor(x*1e6+0.5) expression (one
    IEEE divide + multiply + floor on the same operands), and the
    cumulative sum runs over integers — exact in any summation order.
    Durations stay integer microseconds end to end (no hours rounding:
    at curve cardinality a 7th-decimal tie is a real risk class).

    Scale: ONE exchange on user_id for the first-view/first-purchase
    window (the ``funnel_counts`` stacked conditional-min shape), the
    censor time is a broadcast 1-row aggregate, and everything after the
    per-user collapse is |users|-bounded. The curve's two exact prefix
    sums (at-risk counts over ALL distinct durations, cumulative hazard
    over event durations) use the ``global_value_rank`` two-phase
    composition — quantile buckets + literal-map offsets + WITHIN-bucket
    windows — because distinct durations are integer microseconds and so
    ≈ |users| on real data: a plain ``Window.orderBy`` here would be a
    one-task global sort of a user-cardinality table (the r09 verdict
    finding; the fixture's duration-set invariance under replication is
    an artifact, not a bound)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t0 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    rows = ev.select("user_id", t0.alias("t0"),
                     F.col("event_type"), F.col("ts"))
    t_ev = F.min(F.when((F.col("event_type") == "purchase")
                        & (F.col("ts") > F.col("t0")), F.col("ts"))).over(w)
    per_user = (rows.where(F.col("t0").isNotNull())
                .select("user_id", "t0", t_ev.alias("t_ev"))
                .groupBy("user_id")
                .agg(F.min("t0").alias("t0"), F.min("t_ev").alias("t_ev")))
    t_end = ev.agg(F.max("ts").alias("t_end"))
    dur = (per_user.crossJoin(F.broadcast(t_end))
           .select(F.when(F.col("t_ev").isNull(),
                          F.unix_micros("t_end") - F.unix_micros("t0"))
                   .otherwise(F.unix_micros("t_ev") - F.unix_micros("t0"))
                   .alias("t_us"),
                   F.when(F.col("t_ev").isNull(), 0).otherwise(1)
                   .alias("is_event")))
    from ..plans.registry import retain_for_consumer
    from .scale import bucket_prefix_offsets, quantile_buckets
    g = retain_for_consumer(
        dur.groupBy("t_us")
        .agg(F.count("*").cast("long").alias("n_all"),
             F.sum("is_event").cast("long").alias("n_events")))
    # exact exclusive prefix of n_all over t_us via the two-phase bucket
    # composition (NO single-partition sort); the grand total is a 1-row
    # broadcast instead of a global window
    tot = g.agg(F.sum("n_all").cast("long").alias("n_tot"))
    bucketed = quantile_buckets(g, "t_us")
    off_all = bucket_prefix_offsets(bucketed, F.sum("n_all"))
    wb = (Window.partitionBy("bucket").orderBy("t_us")
          .rowsBetween(Window.unboundedPreceding, 0))
    below = off_all + F.sum("n_all").over(wb) - F.col("n_all")
    r = (bucketed.crossJoin(F.broadcast(tot))
         .select("t_us", "bucket", "n_events",
                 (F.col("n_tot") - below).cast("long").alias("n_risk")))
    h = retain_for_consumer(
        r.where(F.col("n_events") > 0)
        .select("t_us", "bucket", "n_risk", "n_events",
                F.floor(F.col("n_events").cast("double") / F.col("n_risk")
                        * 1000000.0 + 0.5).cast("long").alias("hz_micro")))
    # cumulative hazard: same composition over the event-duration subset
    # (g's bucket column survives the filter, so offsets recomputed on h
    # plus the within-bucket running sum = the exact global running sum
    # of INTEGER micro-hazards)
    off_hz = bucket_prefix_offsets(h, F.sum("hz_micro"))
    cum = (off_hz + F.sum("hz_micro").over(wb)).cast("long")
    return h.select("t_us", "n_risk", "n_events",
                    cum.alias("cum_hazard_micro"),
                    (cum / F.lit(1000000.0)).alias("cum_hazard"))


@register(
    "ab_test_ranksum",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             SUM(CAST(value AS DECIMAL(18,6))) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    g AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_a
      FROM pu GROUP BY 1
    ),
    r AS (
      SELECT cnt, cnt_a,
             CAST(COALESCE(SUM(cnt) OVER
                    (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS BIGINT)
               AS below
      FROM g
    ),
    m AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
             CAST(SUM(cnt_a * (2 * below + cnt + 1)) AS BIGINT) AS r2_a,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM r
    )
    SELECT n_a, n_b,
           CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
           tie_term,
           CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
                ELSE ROUND(CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                           - 1.0, 6)
           END AS rank_biserial,
           CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2 THEN 0.0
                WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                     * (CAST(n_a + n_b + 1 AS DOUBLE)
                        - CAST(tie_term AS DOUBLE)
                          / (CAST(n_a + n_b AS DOUBLE)
                             * CAST(n_a + n_b - 1 AS DOUBLE))) <= 0.0
                THEN 0.0
                ELSE ROUND(
                  CAST(r2_a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
                  / (2.0 * SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                                / 12.0
                                * (CAST(n_a + n_b + 1 AS DOUBLE)
                                   - CAST(tie_term AS DOUBLE)
                                     / (CAST(n_a + n_b AS DOUBLE)
                                        * CAST(n_a + n_b - 1 AS DOUBLE))))),
                  6)
           END AS z_score
    FROM m
    """,
    tags=("windows", "experiment", "stats"),
)
def ab_test_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum readout between the hash-split
    variants (r08 verdict ask #4) — the nonparametric companion to
    ``ab_test_lift``/``ab_test_cuped`` for metrics whose distribution a
    t-statistic can't be trusted on. Metric: per-user total event value
    (users with >= 1 non-null value). Reported: U_A, the tie term
    sum(t^3 - t), the rank-biserial effect size 2U/(n_a*n_b) - 1, and the
    tie-corrected normal-approximation z-score.

    Cross-engine exactness (the ``ab_test_lift`` exact-expression
    precedent): midranks are half-integers, so everything is carried as
    INTEGERS — for a tie group of size t whose values have ``below``
    smaller values, each member's DOUBLED midrank is 2*below + t + 1, so
    R2_A = sum(cnt_a * (2*below + cnt + 1)) is a BIGINT, 2*U_A =
    R2_A - n_a*(n_a+1), and the tie term is integer by construction. Both
    engines then build z from the same four integers (n_a, n_b, R2_A,
    tie_term) with the identical operand-ordered double expression
    (every IEEE div/mul/sub/sqrt correctly rounded -> bit-identical), and
    U_A itself is an exact halving. The per-user metric is an exact
    DECIMAL(18,6) sum, so the tie structure (group-by x) is identical in
    both engines; NULL values are filtered upstream so no engine-specific
    NULL ordering enters the rank scan.

    Scale: one user-keyed exchange (map-side-combinable decimal sum), one
    x-keyed exchange collapsing to the distinct-value frame, then the
    ``global_value_rank`` two-phase composition for the exclusive prefix
    count — approx-quantile buckets + literal-map offsets + WITHIN-bucket
    window — so there is NO single-partition rank scan (the distinct-value
    frame is ~|users| at 100 TB, far too big for a global-sort window);
    the final moment aggregate is a single row."""
    from ..functions.text import hash32
    from ..plans.registry import retain_for_consumer
    from .scale import bucket_prefix_offsets, quantile_buckets
    ev = (table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select("user_id", "value"))
    pu = (ev.groupBy("user_id")
          .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x"))
          .select(F.when(hash32(F.col("user_id").cast("string")) % 2 == 0,
                         "A").otherwise("B").alias("variant"), "x"))
    g = retain_for_consumer(
        pu.groupBy("x").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
             .cast("long").alias("cnt_a")))
    # two-phase exclusive prefix count over the distinct metric values:
    # bucket on a double shadow of x (decimal->double is monotone, and a
    # collision at a bucket boundary only co-locates the tied values —
    # the within-bucket window still orders by the EXACT decimal)
    bucketed = quantile_buckets(g.withColumn("xd", F.col("x").cast("double")),
                                "xd")
    off = bucket_prefix_offsets(bucketed, F.sum("cnt"))
    w = Window.partitionBy("bucket").orderBy("x")
    r = bucketed.select(
        "cnt", "cnt_a",
        (off + F.sum("cnt").over(w) - F.col("cnt"))
        .cast("long").alias("below"))
    m = r.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum(F.col("cnt_a") * (2 * F.col("below") + F.col("cnt") + 1))
         .cast("long").alias("r2_a"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
         .cast("long").alias("tie_term"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    r2a, t = F.col("r2_a"), F.col("tie_term")
    u2_a = r2a - n_a * (n_a + 1)                     # = 2 * U_A, BIGINT
    empty_arm = (n_a == 0) | (n_b == 0)
    # operand order mirrors the oracle SQL exactly: a*b/12.0 * (c - d/(e*f))
    var2 = (n_a.cast("double") * n_b.cast("double") / F.lit(12.0)
            * ((n_a + n_b + 1).cast("double")
               - t.cast("double") / ((n_a + n_b).cast("double")
                                     * (n_a + n_b - 1).cast("double"))))
    z = (F.when(empty_arm | ((n_a + n_b) < 2), F.lit(0.0))
         .when(var2 <= 0.0, F.lit(0.0))
         .otherwise(F.round((u2_a - n_a * n_b).cast("double")
                            / (F.lit(2.0) * F.sqrt(var2)), 6)))
    rb = (F.when(empty_arm, F.lit(0.0))
          .otherwise(F.round(u2_a.cast("double")
                             / (n_a.cast("double") * n_b.cast("double"))
                             - F.lit(1.0), 6)))
    return m.select(
        "n_a", "n_b",
        (u2_a.cast("double") / F.lit(2.0)).alias("u_a"),
        "tie_term",
        rb.alias("rank_biserial"),
        z.alias("z_score"))


@register(
    "ab_test_logrank",
    oracle="""
    WITH t0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    obs AS (SELECT MAX(ts) AS t_end FROM events),
    ev AS (
      SELECT f.user_id, MIN(e.ts) AS t_ev
      FROM t0 f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND e.ts > f.t0 AND e.ts <= f.t0 + INTERVAL 24 HOUR
      GROUP BY 1
    ),
    dur AS (
      SELECT f.user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(f.user_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS in_a,
             CASE WHEN ev.t_ev IS NULL
                  THEN LEAST(86400000000,
                             epoch_us((SELECT t_end FROM obs))
                               - epoch_us(f.t0))
                  ELSE epoch_us(ev.t_ev) - epoch_us(f.t0) END AS t_us,
             CASE WHEN ev.t_ev IS NULL THEN 0 ELSE 1 END AS is_event
      FROM t0 f LEFT JOIN ev ON ev.user_id = f.user_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_a) AS BIGINT) AS n_a
      FROM dur
    ),
    g AS (
      SELECT t_us, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(in_a) AS BIGINT) AS c_a,
             CAST(SUM(is_event) AS BIGINT) AS d,
             CAST(SUM(is_event * in_a) AS BIGINT) AS d_a
      FROM dur GROUP BY 1
    ),
    r AS (
      SELECT t_us, d, d_a,
             (SELECT n FROM tot)
               - CAST(COALESCE(SUM(c_all) OVER (ORDER BY t_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_risk,
             (SELECT n_a FROM tot)
               - CAST(COALESCE(SUM(c_a) OVER (ORDER BY t_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_risk_a
      FROM g
    ),
    terms AS (
      SELECT d_a,
             CAST(FLOOR(CAST(d * n_risk_a AS DOUBLE) / n_risk * 1000000.0
                        + 0.5) AS BIGINT) AS e_micro,
             CASE WHEN n_risk <= 1 THEN 0
                  ELSE CAST(FLOOR(CAST(d * n_risk_a AS DOUBLE) / n_risk
                                  * (CAST(n_risk - n_risk_a AS DOUBLE)
                                     / n_risk)
                                  * (CAST(n_risk - d AS DOUBLE)
                                     / (n_risk - 1))
                                  * 1000000.0 + 0.5) AS BIGINT)
             END AS v_micro
      FROM r WHERE d > 0
    ),
    m AS (
      SELECT (SELECT n_a FROM tot) AS n_a,
             (SELECT n FROM tot) - (SELECT n_a FROM tot) AS n_b,
             CAST(SUM(d_a) AS BIGINT) AS o_a,
             CAST(SUM(e_micro) AS BIGINT) AS e_a_micro,
             CAST(SUM(v_micro) AS BIGINT) AS v_a_micro
      FROM terms
    )
    SELECT n_a, n_b, o_a,
           e_a_micro / 1000000.0 AS e_a,
           v_a_micro / 1000000.0 AS v_a,
           CASE WHEN n_a = 0 OR n_b = 0 OR v_a_micro = 0 THEN 0.0
                ELSE ROUND((CAST(o_a AS DOUBLE) - e_a_micro / 1000000.0)
                           / SQRT(v_a_micro / 1000000.0), 6)
           END AS z_score,
           CASE WHEN n_a + n_b = 0 THEN 0.0
                ELSE ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                           / (n_a + n_b), 6)
           END AS srm_chi2
    FROM m
    """,
    tags=("windows", "survival", "experiment", "stats"),
)
def ab_test_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test between the hash-split variants on
    time-to-convert — the survival companion to ``ab_test_lift``'s point
    rate and ``nelson_aalen_hazard``'s curve: does arm A convert FASTER,
    with right-censoring handled correctly instead of dropped. At every
    distinct event duration t the observed arm-A events d_a are compared
    to the hypergeometric expectation d * n_risk_a / n_risk; O-E summed
    over the curve, normalized by the summed hypergeometric variance.
    The SRM (sample-ratio-mismatch) chi-square on the 50/50 split rides
    along — the first thing to check before believing any A/B readout.

    Follow-up design: conversion is 'first purchase within 24h of the
    user's first view' (the ``ab_test_lift`` window), so non-converts are
    administratively right-censored at min(24h, observation end - t0) —
    real censoring exists at every SF (unwindowed, every fixture user
    eventually purchases, making the survival test degenerate: the r09
    verdict finding).

    Exactness design: O_A and both at-risk processes are integers by
    construction; the per-time E and V terms are quantized to INTEGER
    micro-units with the identical operand-ordered expression in both
    engines (the ``nelson_aalen_hazard`` pattern — each term is one
    chain of correctly-rounded IEEE ops on the same integers, so the
    doubles are bit-identical BEFORE the floor, and the cross-engine
    cumulative sum runs over integers, exact in any order). z is then
    built from three integers (o_a, e_a_micro, v_a_micro) with the same
    expression shape; degenerate cases (empty arm, zero variance) pin
    0.0 identically in both engines.

    Scale: ONE exchange on user_id for the first-view/first-purchase
    window (the ``nelson_aalen_hazard`` shape, plus the md5 variant as a
    pure key function), the censor time and arm totals are broadcast
    1-row aggregates, and the two exact at-risk prefix processes use the
    ``global_value_rank`` two-phase composition (quantile buckets +
    literal-map offsets + within-bucket windows, one shared offsets
    collect via ``bucket_prefix_offsets_multi``) — distinct durations
    are integer microseconds ≈ |users| on real data, so a plain
    ``Window.orderBy`` would one-task-sort a user-cardinality table;
    the final moment aggregate is a single row."""
    from ..functions.text import hash32
    from ..plans.registry import retain_for_consumer
    from .scale import bucket_prefix_offsets_multi, quantile_buckets
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    day = F.expr("INTERVAL 24 HOURS")
    t0 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    rows = ev.select("user_id", t0.alias("t0"), "event_type", "ts")
    t_ev = F.min(F.when((F.col("event_type") == "purchase")
                        & (F.col("ts") > F.col("t0"))
                        & (F.col("ts") <= F.col("t0") + day),
                        F.col("ts"))).over(w)
    per_user = (rows.where(F.col("t0").isNotNull())
                .select("user_id", "t0", t_ev.alias("t_ev"))
                .groupBy("user_id")
                .agg(F.min("t0").alias("t0"), F.min("t_ev").alias("t_ev")))
    t_end = ev.agg(F.max("ts").alias("t_end"))
    day_us = 86400000000
    dur = (per_user.crossJoin(F.broadcast(t_end))
           .select(F.when(hash32(F.col("user_id").cast("string")) % 2 == 0,
                          1).otherwise(0).alias("in_a"),
                   F.when(F.col("t_ev").isNull(),
                          F.least(F.lit(day_us),
                                  F.unix_micros("t_end")
                                  - F.unix_micros("t0")))
                   .otherwise(F.unix_micros("t_ev") - F.unix_micros("t0"))
                   .alias("t_us"),
                   F.when(F.col("t_ev").isNull(), 0).otherwise(1)
                   .alias("is_event")))
    g = retain_for_consumer(
        dur.groupBy("t_us")
        .agg(F.count("*").cast("long").alias("c_all"),
             F.sum("in_a").cast("long").alias("c_a"),
             F.sum("is_event").cast("long").alias("d"),
             F.sum(F.col("is_event") * F.col("in_a")).cast("long")
              .alias("d_a")))
    # both exact at-risk prefixes via ONE two-phase bucket composition
    # (shared offsets collect); arm/population totals come from the same
    # cached duration collapse as a 1-row broadcast
    tot = g.agg(F.sum("c_all").cast("long").alias("n"),
                F.sum("c_a").cast("long").alias("n_a_tot"))
    bucketed = quantile_buckets(g, "t_us")
    off = bucket_prefix_offsets_multi(
        bucketed, all=F.sum("c_all"), a=F.sum("c_a"))
    wb = (Window.partitionBy("bucket").orderBy("t_us")
          .rowsBetween(Window.unboundedPreceding, 0))
    below_all = off["all"] + F.sum("c_all").over(wb) - F.col("c_all")
    below_a = off["a"] + F.sum("c_a").over(wb) - F.col("c_a")
    r = (bucketed.crossJoin(F.broadcast(tot))
         .select("t_us", "d", "d_a",
                 (F.col("n") - below_all).cast("long").alias("n_risk"),
                 (F.col("n_a_tot") - below_a).cast("long")
                 .alias("n_risk_a")))
    # per-time E and V, quantized to integer micro-units: expression order
    # mirrors the oracle SQL exactly (see docstring)
    e_term = ((F.col("d") * F.col("n_risk_a")).cast("double")
              / F.col("n_risk"))
    v_term = (e_term
              * ((F.col("n_risk") - F.col("n_risk_a")).cast("double")
                 / F.col("n_risk"))
              * ((F.col("n_risk") - F.col("d")).cast("double")
                 / (F.col("n_risk") - 1)))
    terms = (r.where(F.col("d") > 0)
             .select("d_a",
                     F.floor(e_term * F.lit(1000000.0) + F.lit(0.5))
                     .cast("long").alias("e_micro"),
                     F.when(F.col("n_risk") <= 1, F.lit(0).cast("long"))
                     .otherwise(F.floor(v_term * F.lit(1000000.0)
                                        + F.lit(0.5)).cast("long"))
                     .alias("v_micro")))
    m = (terms.agg(F.sum("d_a").cast("long").alias("o_a"),
                   F.sum("e_micro").cast("long").alias("e_a_micro"),
                   F.sum("v_micro").cast("long").alias("v_a_micro"))
         .crossJoin(F.broadcast(tot))
         .select(F.col("n_a_tot").alias("n_a"),
                 (F.col("n") - F.col("n_a_tot")).alias("n_b"),
                 "o_a", "e_a_micro", "v_a_micro"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    e_a = F.col("e_a_micro") / F.lit(1000000.0)
    v_a = F.col("v_a_micro") / F.lit(1000000.0)
    z = (F.when((n_a == 0) | (n_b == 0) | (F.col("v_a_micro") == 0),
                F.lit(0.0))
         .otherwise(F.round((F.col("o_a").cast("double") - e_a)
                            / F.sqrt(v_a), 6)))
    srm = (F.when(n_a + n_b == 0, F.lit(0.0))
           .otherwise(F.round(((n_a - n_b) * (n_a - n_b)).cast("double")
                              / (n_a + n_b), 6)))
    return m.select("n_a", "n_b", "o_a",
                    e_a.alias("e_a"), v_a.alias("v_a"),
                    z.alias("z_score"), srm.alias("srm_chi2"))
