"""Event-time window operators over the ``events`` stream table.

Each plan builder takes a DataFrame so the SAME logical plan runs in batch
mode (where the DuckDB oracle gates it bit-exactly) and under Structured
Streaming (tests in tests/test_streaming.py run them through a file-source
→ memory-sink pipeline and assert equality with the batch result). The
``withWatermark`` call is part of the shared plan: streaming uses it for
state eviction; batch ignores it.

Scale notes: event-time windowed aggregation shuffles on (window, key) —
partial aggregation is map-side, state per open window is bounded by the
watermark horizon. Session windows additionally merge per key; the shuffle
key is user_id so skewed users are the hazard (AQE skew-join handles the
batch path; streaming would salt the key upstream).

The reference's rotation is count-based only (SURVEY.md §2.1 #14 —
flush.size); it has no watermarks, event-time windows, or stateful
operators (§2.3). These are Spark-native extensions of its streaming
ingest semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.catalog import load_table
from kafka_connect_storage_cloud_formats_spark.queries.relational import dsum

TUMBLE = "15 minutes"
SLIDE_LEN = "1 hour"
SLIDE_STEP = "15 minutes"
# ONE numeric source for the session gap: the batch session_window plan,
# its SQL oracle, AND the stateful sessionizer (streaming/stateful.py)
# all derive from SESSION_GAP_MINUTES — two hardcoded spellings of "30
# minutes" could silently desynchronize the stateful operator from the
# batch oracle it is tested against (round-9 review; same one-definition
# rule as _interval_pair_cond).
SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
WATERMARK = "2 hours"


# ------------------------------------------------------------- plan builders
def window_plan(events: DataFrame, *window: str) -> DataFrame:
    """Per-(event-time window, event_type) count and decimal-exact value
    sum; ``window`` is ``F.window``'s duration, then its slide for a
    sliding window (``TUMBLE`` or ``SLIDE_LEN, SLIDE_STEP``)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", *window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_plan(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ------------------------------------------------------- batch query surface
def events_tumbling_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_plan(load_table(spark, sf_dir, "events"), TUMBLE).orderBy(
        "window_start", "event_type"
    )


TUMBLING_SQL = """
SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
       make_timestamp((epoch_us(ts) // 900000000) * 900000000 + 900000000) AS window_end,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def events_sliding_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_plan(load_table(spark, sf_dir, "events"), SLIDE_LEN, SLIDE_STEP).orderBy(
        "window_start", "event_type"
    )


SLIDING_SQL = """
WITH shifted AS (
  SELECT event_type, value,
         make_timestamp(((epoch_us(ts) // 900000000) - j) * 900000000) AS window_start
  FROM events, UNNEST(range(0, 4)) AS t(j))
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end, event_type,
       COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM shifted
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_plan(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


SESSION_SQL = """
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


# ------------------------------------------------------------- interval join
INTERVAL_MIN = "5 minutes"


def _interval_pair_cond():
    """THE interval-join predicate — equi on user plus the strict/non-strict
    time bound — defined once so the oracle-gated batch query and the
    watermark-tested streaming plan can never silently desynchronize (a
    bound edited in one copy but not the other would pass both suites)."""
    return (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.ts") < F.col("b.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {INTERVAL_MIN}"))
    )


def interval_join_plan(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: same-user event pairs
    within 5 minutes. Under streaming, the watermarks bound join state on
    both sides (Spark evicts buffered rows older than watermark + bound)."""
    a = left.withWatermark("ts", WATERMARK).alias("a")
    b = right.withWatermark("ts", WATERMARK).alias("b")
    return a.join(b, _interval_pair_cond()).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("e1"),
        F.col("b.event_id").alias("e2"),
    )


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-pair interval join: pairs (e1, e2) of the same user
    with e1.ts < e2.ts ≤ e1.ts + 5 min, counted per user and type pair.

    Join shape: equi on user_id with the time bound as a join filter — a
    hash/merge join whose fan-out is bounded by per-user event density in
    the window, NOT a cross join. The streaming twin is a stream-stream
    join with watermarks — the SAME ``_interval_pair_cond`` predicate plus
    state eviction, enforced by sharing the definition."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    # spread on the STREAMED (a) side only (guide §2.5/§2.6, r15
    # optimization): the events source is a single parquet split at test
    # SFs, so the pair probe — this row's dominant stage (0.54 s CPU on
    # 1 task) — serialized on one core; measured 0.53x with results
    # pinned bit-equal. Scale-guarded no-op on a real corpus
    # (catalog.spread); the b side is the broadcast build.
    from kafka_connect_storage_cloud_formats_spark.catalog import spread

    a = spread(ev).alias("a")
    b = ev.alias("b")
    joined = a.join(b, _interval_pair_cond())
    return (
        joined.groupBy(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id", "t1", "t2")
    )


EVENTS_INTERVAL_JOIN_SQL = """
SELECT a.user_id AS user_id, a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.ts < b.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY a.user_id, a.event_type, b.event_type
ORDER BY a.user_id, t1, t2
"""


# ------------------------------------------------------------ funnel analysis
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup → click → purchase funnel: per user, first-occurrence times of
    each step; a user converts at step k if the first k steps happened in
    order. One conditional-min aggregate per user (single shuffle), then a
    global rollup — the standard product-analytics sequence query."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("long")).alias("reached_signup"),
        F.sum(s2.cast("long")).alias("reached_click"),
        F.sum(s3.cast("long")).alias("reached_purchase"),
    )


EVENTS_FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                 AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                 AND t_click > t_signup AND t_purchase IS NOT NULL
                 AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
FROM firsts
"""


STREAMING_WINDOW_QUERIES = {
    "events_funnel": (events_funnel, EVENTS_FUNNEL_SQL),
    "events_interval_join": (events_interval_join, EVENTS_INTERVAL_JOIN_SQL),
    "events_tumbling_15m": (events_tumbling_15m, TUMBLING_SQL),
    "events_sliding_1h": (events_sliding_1h, SLIDING_SQL),
    "events_session_30m": (events_session_30m, SESSION_SQL),
}
