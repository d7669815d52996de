"""Structured Streaming tests: exactly-once ORC ingest through
``IngestPipeline.run_stream``, streaming windowed aggregation vs batch,
cross-batch stateful sessionization.

Mirrors the reference's scenarios (SURVEY.md §5): recovery/idempotent
reprocessing (DataWriterOrcTest.java:102-124) becomes checkpointed re-runs;
rotation/fan-out semantics are covered in test_pipeline.py."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.catalog import load_table
from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline
from kafka_connect_storage_cloud_formats_spark.queries.pipeline_queries import EVENTS_VALUE_SCHEMA
from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import file_stream_source
from kafka_connect_storage_cloud_formats_spark.streaming.stateful import sessionize_stream
from kafka_connect_storage_cloud_formats_spark.streaming.windows import (
    TUMBLE,
    events_session_30m,
    window_plan,
)


def run_to_memory(df, name: str, output_mode: str = "complete") -> None:
    """Run a streaming plan to completion into the in-memory table ``name``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def start_ingest(stream, out: str, ckpt: str):
    """The engine's stream → ORC sink over the events value columns."""
    return IngestPipeline(out, EVENTS_VALUE_SCHEMA).run_stream(stream, ckpt)


@pytest.fixture(scope="module")
def events_src(spark, sf_dir, tmp_path_factory):
    """events table re-materialized as time-contiguous parquet chunk files
    (µs timestamps) usable as a file-stream source. Chunks are written in
    event-time order so micro-batches arrive roughly in order — the
    per-key ordering a Kafka source guarantees and the stateful
    sessionizer (like any state machine without a reorder buffer) relies on."""
    import time as _time

    src = str(tmp_path_factory.mktemp("events_src"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    n = ev.count()
    cut1, cut2 = (
        ev.limit(n // 3).agg(F.max("ts")).first()[0],
        ev.limit(2 * n // 3).agg(F.max("ts")).first()[0],
    )
    chunks = [
        ev.filter(F.col("ts") <= cut1),
        ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        ev.filter(F.col("ts") > cut2),
    ]
    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.1)  # distinct mtimes → stable file-source ordering
    return src, spark.read.parquet(src).schema


def test_exactly_once_ingest_rerun(spark, events_src, tmp_path):
    """``IngestPipeline.run_stream``: re-running a checkpointed stream over
    committed input adds nothing; new input is picked up incrementally
    (reference recovery scenario, achieved via checkpoint + _spark_metadata
    instead of offset-overwrite)."""
    import shutil

    shared_src, schema = events_src
    src = str(tmp_path / "src")  # private copy: this test appends input
    shutil.copytree(shared_src, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_events = spark.read.parquet(src).count()

    def ingest():
        start_ingest(file_stream_source(spark, src, schema), out, ckpt).awaitTermination()

    ingest()
    assert spark.read.orc(out).count() == n_events

    # idempotent re-run: no new input → no new rows
    ingest()
    assert spark.read.orc(out).count() == n_events

    # incremental: one more file → exactly its rows appended
    extra = spark.read.parquet(src).limit(100)
    extra.coalesce(1).write.mode("append").parquet(src)
    ingest()
    assert spark.read.orc(out).count() == n_events + 100


def test_mid_run_kill_and_checkpoint_restart_is_exactly_once(spark, events_src, tmp_path):
    """The reference's recovery-with-partial-file scenario
    (DataWriterOrcTest.java:102-124) at streaming granularity: KILL the
    ingest query between micro-batches (possibly mid-batch, leaving
    uncommitted part-files), restart it from the same checkpoint, and
    repeat until the source is drained. The committed ORC output — as
    resolved through the ``_spark_metadata`` commit log — must equal the
    source EXACTLY once: an interrupted batch may neither drop its rows
    nor commit them twice across restarts."""
    import time as _time

    shared_src, schema = events_src
    ev = spark.read.parquet(shared_src)
    total = ev.count()
    src = str(tmp_path / "src")
    # 6 single-file chunks → 6 micro-batches at maxFilesPerTrigger=1
    for k in range(6):
        ev.filter(F.col("event_id") % 6 == k).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def committed_count(path) -> int:
        try:
            return spark.read.orc(path).count()
        except Exception:  # no batch committed yet → no readable sink
            return 0

    # A stop() races batch completion: on a fast host the first run can
    # drain all 6 micro-batches before the stop lands, which proves
    # nothing about recovery. Retry the whole scenario (fresh sink +
    # checkpoint) until a run was genuinely interrupted mid-stream.
    import shutil

    interrupted = runs = 0
    for attempt in range(3):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        interrupted = runs = 0
        while runs < 24 and committed_count(out) < total:
            q = start_ingest(
                file_stream_source(spark, src, schema, max_files_per_trigger=1), out, ckpt
            )
            # kill as soon as the first micro-batch of THIS run commits —
            # the next batch is typically in flight, so the stop also
            # exercises the partial-write path
            deadline = _time.time() + 120
            while q.isActive and not q.recentProgress and _time.time() < deadline:
                _time.sleep(0.02)
            q.stop()
            runs += 1
            if committed_count(out) < total:
                interrupted += 1  # this run stopped mid-stream
        if interrupted:
            break
    assert committed_count(out) == total, f"undrained after {runs} interrupted runs"
    assert interrupted >= 1, (
        "stream drained un-interrupted on 3 fresh attempts — host too fast "
        "for the stop to land mid-stream; recovery not exercised"
    )

    # exactly-once, as a multiset: no row dropped, none duplicated
    got = sorted(r[0] for r in spark.read.orc(out).select("event_id").collect())
    want = sorted(r[0] for r in ev.select("event_id").collect())
    assert got == want


def test_streaming_tumbling_equals_batch(spark, events_src):
    """The same tumbling plan through the streaming engine (complete mode)
    must produce the batch answer."""
    src, schema = events_src
    stream_result_name = "tumbling_test"
    run_to_memory(window_plan(file_stream_source(spark, src, schema), TUMBLE), stream_result_name)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table(stream_result_name).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in window_plan(spark.read.parquet(src), TUMBLE).collect()
    }
    assert got == want


def test_stateful_sessionizer_matches_batch_sessions(spark, events_src, sf_dir, tmp_path):
    """Closed sessions emitted by the applyInPandasWithState operator must
    appear in the batch session_window result with identical bounds and
    counts (the final open session per user legitimately stays in state)."""
    src, schema = events_src
    name = "sessions_test"
    # two micro-batches (maxFilesPerTrigger=2 over 3+ files) → state must
    # survive across batches
    stream = file_stream_source(spark, src, schema, max_files_per_trigger=2)
    run_to_memory(sessionize_stream(stream), name, output_mode="append")
    emitted = spark.table(name).collect()
    assert emitted, "expected at least one closed session"

    batch = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in events_session_30m(spark, sf_dir).collect()
    }
    missing = 0
    for r in emitted:
        k = (r["user_id"], r["session_start"])
        if k not in batch:
            missing += 1
        else:
            end, n = batch[k]
            assert n == r["n_events"], f"count mismatch for {k}"
            assert end == r["session_end"], f"end mismatch for {k}"
    assert missing == 0, f"{missing}/{len(emitted)} stateful sessions absent from batch result"


def test_watermark_drops_late_data(spark, tmp_path):
    """Late events beyond the watermark are dropped, not re-aggregated:
    run 1 processes hours 0-10 (watermark advances to 8h), run 2 delivers a
    brazenly late hour-1 event plus a fresh hour-11 event — the closed
    hour-1 window must not change or reappear."""
    import time as _time

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")

    def mk_events(rows):
        return spark.createDataFrame(
            [(i, f"2024-01-01 {h:02d}:00:01", "t", float(v)) for i, (h, v) in enumerate(rows)],
            "event_id long, ts_s string, event_type string, value double",
        ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")

    # run 1: two events in hour 1, one in hour 10 → watermark ends at 8h
    mk_events([(1, 10), (1, 20), (10, 5)]).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            window_plan(spark.readStream.schema(schema).parquet(src), TUMBLE)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {
        (r["window_start"].hour, r["n"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 2, 30.0) in {(h, n, v) for h, n, v in first}, first

    # run 2: a late hour-1 event (far below watermark) + fresh hour-11 event
    _time.sleep(0.1)
    mk_events([(1, 999), (11, 7)]).coalesce(1).write.mode("append").parquet(src)
    run_once()
    final = [
        (r["window_start"].hour, r["n"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    ]
    hour1 = [(h, n, v) for h, n, v in final if h == 1]
    assert hour1 == [(1, 2, 30.0)], f"late data must be dropped, got {hour1}"


def test_stream_stream_interval_join_equals_batch(spark, events_src):
    """The watermarked stream-stream interval join produces exactly the
    batch join's pair set once all input is processed."""
    from kafka_connect_storage_cloud_formats_spark.streaming.windows import interval_join_plan

    src, schema = events_src
    left = file_stream_source(spark, src, schema)
    right = file_stream_source(spark, src, schema)
    run_to_memory(interval_join_plan(left, right), "ssjoin_test", output_mode="append")
    got = {
        (r["user_id"], r["e1"], r["e2"]) for r in spark.table("ssjoin_test").collect()
    }
    batch = spark.read.parquet(src)
    want = {
        (r["user_id"], r["e1"], r["e2"])
        for r in interval_join_plan(batch, batch).collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_join(spark, events_src):
    """Left-outer stream-stream join: clicks with no purchase in the
    5-minute window emit with NULL right side once the watermark passes;
    matched pairs equal the inner join."""
    from pyspark.sql import functions as SF

    from kafka_connect_storage_cloud_formats_spark.streaming.windows import WATERMARK

    src, schema = events_src

    def sides(df):
        clicks = df.filter(SF.col("event_type") == "click").select(
            "user_id", "ts", SF.col("event_id").alias("click_id")
        )
        purchases = df.filter(SF.col("event_type") == "purchase").select(
            SF.col("user_id").alias("p_user"), SF.col("ts").alias("p_ts"),
            SF.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    def join(clicks, purchases):
        return clicks.withWatermark("ts", WATERMARK).join(
            purchases.withWatermark("p_ts", WATERMARK),
            (SF.col("user_id") == SF.col("p_user"))
            & (SF.col("p_ts") > SF.col("ts"))
            & (SF.col("p_ts") <= SF.col("ts") + SF.expr("INTERVAL 5 minutes")),
            "leftOuter",
        ).select("user_id", "click_id", "purchase_id")

    lc, lp = sides(file_stream_source(spark, src, schema))
    run_to_memory(join(lc, lp), "lojoin_test", output_mode="append")
    got = {(r["user_id"], r["click_id"], r["purchase_id"]) for r in spark.table("lojoin_test").collect()}

    bc, bp = sides(spark.read.parquet(src))
    want = {(r["user_id"], r["click_id"], r["purchase_id"]) for r in join(bc, bp).collect()}

    matched_got = {t for t in got if t[2] is not None}
    matched_want = {t for t in want if t[2] is not None}
    assert matched_got == matched_want
    # outer rows: streaming may hold back unmatched clicks newer than the
    # final watermark, but must never invent matches
    assert {t for t in got if t[2] is None} <= {t for t in want if t[2] is None}
    assert len(matched_got) > 0 and any(t[2] is None for t in got)


def test_streaming_dedup_within_watermark(spark, events_src):
    """At-least-once delivery reduced to exactly-once INSIDE the stream:
    the same source read twice and unioned (every record delivered 2x),
    deduplicated by record identity with dropDuplicatesWithinWatermark —
    the streaming counterpart of the batch replay_dedup query (state is
    evicted past the watermark horizon, so memory is bounded at 100 TB/day
    rates, unlike an unbounded dropDuplicates)."""
    src, schema = events_src
    s1 = file_stream_source(spark, src, schema)
    s2 = file_stream_source(spark, src, schema)
    deduped = (
        s1.unionAll(s2)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    run_to_memory(deduped, "stream_dedup", output_mode="append")
    got = spark.table("stream_dedup")
    batch = spark.read.parquet(src)
    assert got.count() == batch.count()
    assert got.agg(F.sum("event_id")).first()[0] == batch.agg(F.sum("event_id")).first()[0]


def test_sessionizer_late_event_does_not_rewind_session(spark):
    """A late-but-within-watermark event (t < state's last) must extend the
    open session's span, never rewind it: with the old `last = t` merge, a
    09:00 late arrival after a 10:00 event moved session_end backwards and
    the next 09:40 event mis-closed the session (09:40 - 09:00 >= gap) even
    though 10:00 sits inside it. Driven at the unit level with a fake
    GroupState so each micro-batch boundary is explicit."""
    import pandas as pd

    from kafka_connect_storage_cloud_formats_spark.streaming.stateful import (
        GAP_US,
        _sessionize_group,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ts):
            pass

    def batch(*ts_minutes):
        base = pd.Timestamp("2024-01-01 09:00:00")
        return pd.DataFrame(
            {
                "user_id": [1] * len(ts_minutes),
                "ts": [base + pd.Timedelta(minutes=m) for m in ts_minutes],
                "value": [1.0] * len(ts_minutes),
            }
        )

    state = FakeState()
    closed = []
    for b in (batch(60), batch(0), batch(40)):  # 10:00, then LATE 09:00, then 09:40
        closed.extend(list(_sessionize_group((1,), iter([b]), state)))
    assert closed == [], "no session may close: all three events span < gap around each other"
    start, last, n, _total = state.get
    base_us = int(pd.Timestamp("2024-01-01 09:00:00").value // 1000)
    assert start == base_us, "session start must extend back to the late 09:00 event"
    assert last == base_us + 60 * 60 * 1_000_000, "session last must stay at 10:00, not rewind"
    assert n == 3
    assert GAP_US > 0  # constant sanity; span checks above pin the boundaries

    # POLICY BOUNDARY (documented divergence from the batch session_window
    # oracle, r4 ADVICE): a within-watermark late event more than GAP
    # before the open session's START is merged into it — batch semantics,
    # which see all events at once, would emit it as its own earlier
    # session (10:00 - 09:00 >= gap). Retroactive splitting would require
    # buffering raw events until the watermark; the sessionizer trades
    # that for O(1) state per user. This assertion keeps the boundary
    # visible: if the merge policy ever changes, this fails before the
    # events_session_30m oracle comparison silently shifts.
    assert 60 * 60 * 1_000_000 >= GAP_US, "scenario premise: 09:00 is >= GAP early"
    state2 = FakeState()
    for b in (batch(60), batch(0)):  # 10:00, then LATE 09:00 (>= gap earlier)
        list(_sessionize_group((1,), iter([b]), state2))
    start2, last2, n2, _ = state2.get
    assert start2 == base_us and last2 == base_us + 60 * 60 * 1_000_000 and n2 == 2, (
        "streaming policy merges a >=GAP-early late event into the open "
        "session (batch session_window would split it into two sessions)"
    )


def test_full_envelope_pipeline_sf01_kill_restart(spark, tmp_path):
    """The reference's recovery scenario (DataWriterOrcTest.java:102-124)
    end to end at sf0.1 through ``IngestPipeline.run_stream`` — envelope
    synthesis (topic/partition/offset), value-column projection, Hive-style
    partition layout — killed between/within micro-batches and restarted
    from the same checkpoint until the source drains. The committed output
    must hold the 100k events exactly once, laid out in ``partition=N/``
    directories."""
    import time as _time

    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        with_kafka_envelope,
    )

    sf01 = "/root/testdata/sf0.1"
    ev = load_table(spark, sf01, "events")
    total = ev.count()
    env = with_kafka_envelope(
        ev,
        "events",
        num_partitions=3,
        partition_key="user_id",
        order_col="event_id",
        partitioner="mod",
    )
    # materialize the enveloped stream as 6 arrival-ordered chunk files
    src = str(tmp_path / "src")
    for k in range(6):
        env.filter(F.col("event_id") % 6 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(0.05)
    schema = spark.read.parquet(src).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def committed_count(path) -> int:
        try:
            return spark.read.orc(path).count()
        except Exception:
            return 0

    # Same anti-race structure as the sf0.001 kill/restart test: a run
    # that drains before the stop lands proves nothing — retry the whole
    # scenario on fresh sink+checkpoint until a run was interrupted.
    import shutil

    interrupted = runs = 0
    for attempt in range(3):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        interrupted = runs = 0
        while runs < 24 and committed_count(out) < total:
            q = start_ingest(
                file_stream_source(spark, src, schema, max_files_per_trigger=1), out, ckpt
            )
            deadline = _time.time() + 180
            while q.isActive and not q.recentProgress and _time.time() < deadline:
                _time.sleep(0.02)
            q.stop()
            runs += 1
            if committed_count(out) < total:
                interrupted += 1
        if interrupted:
            break
    assert committed_count(out) == total, f"undrained after {runs} interrupted runs"
    assert interrupted >= 1, (
        "stream drained un-interrupted on 3 fresh attempts — host too fast "
        "for the stop to land mid-stream; recovery not exercised"
    )

    # Hive-style partition fan-out survived the restarts
    back = spark.read.orc(out)
    assert sorted(
        r[0] for r in back.select("partition").distinct().collect()
    ) == [0, 1, 2]
    # exactly-once, as a multiset over the full corpus
    got = back.groupBy().agg(
        F.count(F.lit(1)), F.sum("event_id"), F.countDistinct("event_id")
    ).first()
    assert got[0] == total and got[2] == total
    assert got[1] == ev.agg(F.sum("event_id")).first()[0]
