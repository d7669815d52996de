"""Scenario tests mirroring the reference's test inventory (SURVEY.md §5):

- size-based rotation → files at offsets {0, flush, 2·flush, ...}
  (DataWriterOrcTest.java:83-99)
- recovery: re-processing overwrites partial output idempotently
  (DataWriterOrcTest.java:102-124)
- >11,000 rows in one file group (the reference's single-batch cap does not
  apply here; DataWriterOrcTest.java:127-142 tested 11,000 max)
- multi-partition fan-out, interleaved records
  (DataWriterOrcTest.java:145-172)
- golden content comparison with VARYING rows (fixes the reference's
  identical-row blind spot, SURVEY.md §2.2.4)
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline
from kafka_connect_storage_cloud_formats_spark.schema import UnsupportedTypeError, avro_schema_to_spark
from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import file_key_to_commit
from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import with_kafka_envelope

SIX_TYPE_SCHEMA = T.StructType(
    [
        T.StructField("boolean_col", T.BooleanType(), False),
        T.StructField("int_col", T.IntegerType(), False),
        T.StructField("long_col", T.LongType(), False),
        T.StructField("float_col", T.FloatType(), False),
        T.StructField("double_col", T.DoubleType(), False),
        T.StructField("string_col", T.StringType(), False),
    ]
)
SIX_TYPE_COLS = [f.name for f in SIX_TYPE_SCHEMA.fields]


def make_records(spark, n, num_partitions=1, topic="test-topic"):
    """Varying, seeded rows over the six-type surface (FIXTURES.md F1/F2)."""
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 2 == 0).alias("boolean_col"),
            (F.col("id") * 7 - 3).cast("int").alias("int_col"),
            (F.col("id") * 1_000_003).cast("long").alias("long_col"),
            (F.col("id") / 3.0).cast("float").alias("float_col"),
            (F.col("id") * 0.1 + 0.001).cast("double").alias("double_col"),
            F.concat(F.lit("räkörd-"), F.col("id")).alias("string_col"),
            F.col("id"),
        )
    )
    env = df.withColumn("topic", F.lit(topic)).withColumn(
        "partition", (F.col("id") % num_partitions).cast("int")
    )
    env = env.withColumn("offset", (F.col("id") / num_partitions).cast("long"))
    return env.withColumn("key", F.lit("key")).drop("id")


def test_rotation_offsets(spark, tmp_path):
    """7 records, flush.size=3 → files at offsets {0,3,6} (ref :92)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=3, parity_naming=True)
    written = pipe.run_batch(make_records(spark, 7))
    expected = [
        file_key_to_commit("topics", "test-topic", "test-topic", 0, off) for off in (0, 3, 6)
    ]
    assert written == sorted(expected)
    back = pipe.read_back(spark)
    assert back.count() == 7
    assert set(back.columns) == {f.name for f in SIX_TYPE_SCHEMA.fields}


def test_recovery_idempotent_overwrite(spark, tmp_path):
    """Partial file at offset 0 is overwritten on reprocess (ref :102-124)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=3, parity_naming=True)
    # simulate a partial first attempt: only 2 records made it
    pipe.run_batch(make_records(spark, 2))
    # full reprocess of all 7
    written = pipe.run_batch(make_records(spark, 7))
    assert len(written) == 3
    back = pipe.read_back(spark)
    assert back.count() == 7  # no dupes, no loss
    assert back.select(F.sum("long_col")).first()[0] == sum(i * 1_000_003 for i in range(7))


def test_parity_finalize_scheme_agnostic(spark, tmp_path):
    """The finalize pass goes through the Hadoop FileSystem API, so an
    explicit ``file://`` URI (any Path scheme) must behave exactly like a
    bare local path — the rename is not os/shutil-bound."""
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

    out_uri = f"file://{tmp_path}/out"
    written = write_orc_parity(make_records(spark, 7), out_uri, flush_size=3, value_cols=SIX_TYPE_COLS)
    expected = [
        file_key_to_commit("topics", "test-topic", "test-topic", 0, off) for off in (0, 3, 6)
    ]
    assert written == sorted(expected)
    # the files exist on the local filesystem under the reference keys
    for key in expected:
        assert os.path.exists(str(tmp_path / "out" / key))
    assert not os.path.exists(str(tmp_path / "out" / "_staged"))
    assert spark.read.orc(out_uri + "/*.orc").count() == 7


def test_beyond_reference_batch_cap(spark, tmp_path):
    """11,001 rows in one file — above the reference's hard 11,000-row cap
    (OrcRecordWriter.java:100); our engine must not truncate."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=20_000, parity_naming=True)
    written = pipe.run_batch(make_records(spark, 11_001))
    assert written == [file_key_to_commit("topics", "test-topic", "test-topic", 0, 0)]
    assert pipe.read_back(spark).count() == 11_001


def test_multi_partition_fanout(spark, tmp_path):
    """Interleaved records across 3 topic-partitions → independent per-
    partition offset sequences (ref :145-172)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=3, parity_naming=True)
    written = pipe.run_batch(make_records(spark, 21, num_partitions=3))
    expected = sorted(
        file_key_to_commit("topics", "test-topic", "test-topic", p, off)
        for p in range(3)
        for off in (0, 3, 6)
    )
    assert written == expected
    assert pipe.read_back(spark).count() == 21


def test_golden_content_varying_rows(spark, tmp_path):
    """Field-by-field content equality with varying rows — strengthens the
    reference's identical-row golden test (SURVEY.md §2.2.4)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=5, parity_naming=True)
    records = make_records(spark, 13)
    pipe.run_batch(records)
    back = pipe.read_back(spark)
    cols = sorted(f.name for f in SIX_TYPE_SCHEMA.fields)
    got = sorted(back.select(*cols).collect(), key=lambda r: r["long_col"])
    want = sorted(records.select(*cols).collect(), key=lambda r: r["long_col"])
    assert got == want


def test_spark_native_sink_partition_pruning(spark, tmp_path):
    """Idiomatic sink: Hive-style partition=N dirs (under the deterministic
    batch=<id> layer that gives per-poll idempotence); reading one partition
    prunes the others (scan shows partition filters, no full-data read)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=1000, parity_naming=False)
    pipe.run_batch(make_records(spark, 30, num_partitions=3))
    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert batch_dirs, "enveloped batch must land under a deterministic batch=<id> dir"
    assert any(
        d.startswith("partition=") for d in os.listdir(os.path.join(out, batch_dirs[0]))
    )
    back = spark.read.orc(out)
    one = back.filter(F.col("partition") == 1)
    assert one.count() == 10
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "partition" in plan


def test_envelope_synthesis(spark):
    env = with_kafka_envelope(
        spark.range(100).select(F.col("id").alias("event_id")),
        topic="t",
        num_partitions=4,
        partition_key="event_id",
        order_col="event_id",
    )
    rows = env.groupBy("partition").agg(F.min("offset"), F.max("offset"), F.count("*")).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["min(offset)"] == 0
        assert r["max(offset)"] == r["count(1)"] - 1


def test_decode_value_json_and_avro_gate(spark):
    """decode_value: the JSON path round-trips; the Avro path either works
    (spark-avro loaded) or raises the documented gate error — never a raw
    py4j AnalysisException."""
    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import decode_value

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    payloads = spark.range(3).select(
        F.to_json(F.struct(F.col("id").alias("a"), F.concat(F.lit("x"), "id").alias("b")))
        .cast("binary")
        .alias("value")
    )
    back = payloads.select(decode_value("value", schema, "json").alias("v")).select("v.*")
    assert [(r.a, r.b) for r in back.orderBy("a").collect()] == [
        (0, "x0"),
        (1, "x1"),
        (2, "x2"),
    ]
    try:
        col = decode_value("value", schema, "avro")
        # jar present: the plan must at least analyze against the payload df
        payloads.select(col.alias("v")).schema
    except RuntimeError as e:
        assert "spark-avro" in str(e)
    with pytest.raises(ValueError):
        decode_value("value", schema, "protobuf")


def test_avro_schema_mapping():
    avro = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": ["null", "long"]},
            {"name": "s", "type": "string"},
        ],
    }
    spark_schema = avro_schema_to_spark(avro)
    assert [f.dataType.simpleString() for f in spark_schema.fields] == [
        "boolean",
        "int",
        "bigint",
        "string",
    ]
    assert [f.nullable for f in spark_schema.fields] == [False, False, True, False]
    with pytest.raises(UnsupportedTypeError):
        avro_schema_to_spark(
            {"type": "record", "name": "r", "fields": [{"name": "x", "type": "bytes"}]}
        )


def test_null_values_stored_as_orc_nulls(spark, tmp_path):
    """Documented divergence (SURVEY.md §1.2): reference NPEs on null values;
    we store real ORC nulls."""
    out = str(tmp_path / "out")
    schema = T.StructType(
        [
            T.StructField("int_col", T.IntegerType(), True),
            T.StructField("string_col", T.StringType(), True),
        ]
    )
    df = spark.range(10).select(
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).cast("int").alias("int_col"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id")))
        .alias("string_col"),
        F.lit("t").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("id").cast("long").alias("offset"),
    )
    pipe = IngestPipeline(out, schema, flush_size=100, parity_naming=True)
    pipe.run_batch(df)
    back = pipe.read_back(spark)
    assert back.filter(F.col("int_col").isNull()).count() == 4
    assert back.filter(F.col("string_col").isNull()).count() == 3


def test_golden_extreme_values_roundtrip(spark, tmp_path):
    """FIXTURES.md F1 edge surface: INT/LONG extremes, float-unrepresentable
    doubles, empty + multi-byte strings survive the parity ORC pipeline
    byte-exactly."""
    rows = [
        (True, 2147483647, 9223372036854775807, 0.0, 0.1, ""),
        (False, -2147483648, -9223372036854775808, -1.5, 1e308, "多字节 ütf-8 ✓"),
        (True, 0, 0, 3.4028235e38, -2.2250738585072014e-308, "plain"),
        (False, -1, 1, -0.0, 0.1 + 0.2, "末尾"),
    ]
    df = spark.createDataFrame(rows, SIX_TYPE_SCHEMA).select(
        "*",
        F.lit("t").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    # normalize offsets to 0..n-1
    df = df.withColumn("offset", F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("int_col")
    ).cast("long") - 1)
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=100, parity_naming=True)
    pipe.run_batch(df)
    back = pipe.read_back(spark)
    cols = sorted(f.name for f in SIX_TYPE_SCHEMA.fields)
    got = sorted(tuple(r) for r in back.select(*cols).collect())
    want = sorted(tuple(r) for r in df.select(*cols).collect())
    assert got == want


def test_multi_topic_fanout(spark, tmp_path):
    """Two topics in one batch land in distinct per-topic file keys with
    independent offset sequences (the Connect framework's multi-topic
    assignment, one S3SinkTask serving several topics)."""
    out = str(tmp_path / "out")
    a = make_records(spark, 6, topic="topic-a")
    b = make_records(spark, 4, topic="topic-b")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=3, parity_naming=True)
    written = pipe.run_batch(a.unionByName(b))
    expect = sorted(
        [file_key_to_commit("topics", "topic-a", "topic-a", 0, off) for off in (0, 3)]
        + [file_key_to_commit("topics", "topic-b", "topic-b", 0, off) for off in (0, 3)]
    )
    assert written == expect
    assert pipe.read_back(spark).count() == 10


def test_corrupt_json_records_permissive(spark, tmp_path):
    """Malformed source records surface in _corrupt_record under PERMISSIVE
    mode instead of failing the pipeline (the triage path a production
    ingest needs; FAILFAST is one option away)."""
    import json as _json

    src = tmp_path / "in.json"
    lines = [_json.dumps({"id": i, "name": f"n{i}"}) for i in range(5)]
    lines.insert(2, '{"id": broken')
    src.write_text("\n".join(lines))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    # Spark requires caching before queries referencing only the internal
    # corrupt-record column (SPARK-21610)
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(src)).cache()
    try:
        assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
        assert df.filter(F.col("_corrupt_record").isNull()).count() == 5
    finally:
        df.unpersist()


def test_envelope_keyless_default_is_deterministic_and_validates(spark):
    """The keyless partition default must be content-deterministic (stable
    across parallelism — monotonically_increasing_id was split-dependent),
    and an unknown partitioner must fail on EVERY path, including keyless."""
    import pytest
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        with_kafka_envelope,
    )

    rows = spark.range(64).select(F.col("id").alias("event_id"))
    one = with_kafka_envelope(rows.coalesce(1), topic="t", num_partitions=4, order_col="event_id")
    many = with_kafka_envelope(rows.repartition(8), topic="t", num_partitions=4, order_col="event_id")
    a = {r["event_id"]: r["partition"] for r in one.collect()}
    b = {r["event_id"]: r["partition"] for r in many.collect()}
    assert a == b, "partition assignment must not depend on input split layout"
    with pytest.raises(ValueError, match="partitioner"):
        with_kafka_envelope(rows, topic="t", partitioner="bogus")


def test_parity_file_rows_are_in_offset_order(spark, tmp_path):
    """The reference appends records in Kafka offset order, so row order
    INSIDE each parity-named ORC file is part of the contract. Read each
    single file directly (one file, one task → file order preserved) and
    assert the offset-correlated column is strictly increasing. The input
    is shuffled into 16 partitions and each file group spans thousands of
    rows: at this size, a planned write (``plannedWrite``) left on drops
    the offset sort and un-orders every file, which a dozen rows did not
    show."""
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

    out = str(tmp_path / "out")
    records = make_records(spark, 20_000, num_partitions=3).repartition(16)
    written = write_orc_parity(records, out, flush_size=5_000, value_cols=SIX_TYPE_COLS)
    assert len(written) == 6  # offsets 0..6666 per partition → starts 0, 5000
    total = 0
    for key in written:
        rows = spark.read.orc(os.path.join(out, key)).collect()
        longs = [r["long_col"] for r in rows]  # long_col = (3·offset + p) * 1_000_003
        assert longs == sorted(longs), f"rows in {key} not in offset order"
        assert len(set(longs)) == len(longs) <= 5_000
        total += len(longs)
    assert total == 20_000


def test_native_mode_multi_batch_accumulates_and_rerun_is_idempotent(spark, tmp_path):
    """The Spark-native (non-parity) sink must honor the reference's
    per-poll put() contract: successive batches ACCUMULATE (the old bare
    overwrite truncated every earlier batch) and re-running the same batch
    changes nothing (deterministic batch=<id> dir, directory-granular
    overwrite)."""
    out = str(tmp_path / "out")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=1000, parity_naming=False)
    b1 = make_records(spark, 5)
    b2 = make_records(spark, 9).filter(F.col("offset") >= 5)  # disjoint offsets
    pipe.run_batch(b1)
    pipe.run_batch(b2)
    assert pipe.read_back(spark).count() == 9, "second batch must not erase the first"
    pipe.run_batch(b2)  # replay of an already-committed poll
    back = pipe.read_back(spark)
    assert back.count() == 9, "re-running the same batch must be idempotent"
    assert "batch" not in back.columns


def test_parity_sink_handles_glob_metachar_out_dir(spark, sf_dir, tmp_path):
    """The finalize's staged-layout glob must treat the out_dir as a
    LITERAL path: a directory containing glob metacharacters must neither
    silently match nothing (which would delete the staged data and return
    no files) nor throw on pattern compilation."""
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity
    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        with_kafka_envelope,
    )

    out = str(tmp_path / "run[A] {x}" / "out")
    ev = load_table(spark, sf_dir, "events").limit(100)
    env = with_kafka_envelope(
        ev, "t", num_partitions=2, partition_key="user_id",
        order_col="event_id", partitioner="mod",
    )
    written = write_orc_parity(env, out, flush_size=50, value_cols=ev.columns)
    assert written, "metachar out_dir must still produce files"
    for k in written:  # files physically exist at the literal path
        assert os.path.exists(os.path.join(out, k)), k
    # Spark's reader ALSO globs its input paths, so the read-back needs
    # the same escaping the sink applies internally
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import _glob_escape

    back = spark.read.orc([_glob_escape(f"{out}/{k}") for k in written])
    assert back.count() == 100


def test_parity_sink_many_file_groups(spark, sf_dir, tmp_path):
    """The glob-based finalize must hold its invariants at a high group
    count: every (partition, offset-boundary) group lands as exactly one
    file with the reference name, offsets cover each flush boundary, and
    the rename pass loses nothing."""
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity
    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        with_kafka_envelope,
    )

    out = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    env = with_kafka_envelope(
        ev, "t", num_partitions=4, partition_key="user_id",
        order_col="event_id", partitioner="mod",
    )
    flush = 25  # sf0.001: 1000 events / 4 partitions / 25 → ~40 groups
    written = write_orc_parity(env, out, flush_size=flush, value_cols=ev.columns)
    per_part = {
        r["partition"]: r["c"]
        for r in env.groupBy("partition").count().withColumnRenamed("count", "c").collect()
    }
    expect = {
        f"topics_t_t_{p}_{off:010d}.orc"
        for p, c in per_part.items()
        for off in range(0, c, flush)
    }
    assert set(written) == expect
    assert len(written) == sum(-(-c // flush) for c in per_part.values())
    back = spark.read.orc([f"{out}/{k}" for k in written])
    assert back.count() == n


def test_pack_training_sequences_partition_and_capacity(spark, sf_dir):
    """Packing invariants: exactly one row per kept document (a partition
    of the curated corpus), intervals are contiguous in doc_id order,
    seq_id is the window containing each document's first token, and a
    sequence's token total exceeds capacity only through its single
    boundary straddler."""
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        _kept_docs,
        pack_training_sequences,
        packed_sequence_stats,
    )

    cap = 500
    packed = pack_training_sequences(spark, sf_dir, capacity=cap)
    rows = packed.orderBy("doc_id").collect()
    kept_ids = sorted(
        r["doc_id"] for r in _kept_docs(spark, sf_dir).select("doc_id").collect()
    )
    assert [r["doc_id"] for r in rows] == kept_ids  # exact partition

    pos = 0
    for r in rows:
        assert r["token_start"] == pos  # contiguous concat layout
        assert r["seq_id"] == pos // cap
        pos += r["n_tokens"]

    stats = packed_sequence_stats(spark, sf_dir, capacity=cap).collect()
    assert sum(s["n_docs"] for s in stats) == len(kept_ids)
    # every sequence except possibly the last starts at most one straddler
    # over capacity: total_tokens < capacity + max single doc length
    max_doc = max(r["n_tokens"] for r in rows)
    for s in stats:
        assert s["total_tokens"] < cap + max_doc

    import pytest

    with pytest.raises(ValueError, match="capacity"):
        pack_training_sequences(spark, sf_dir, capacity=0)


def test_pack_sequence_spans_exact_fill(spark, sf_dir):
    """Boundary-splitting invariants (round-11): each document's spans
    partition its token array exactly (contiguous, summing to n_tokens);
    every sequence's spans tile [0, capacity) exactly — fill_ratio 1.0 by
    construction except the tail; and the span layout agrees with the
    document-level variant on which sequence holds each first token."""
    import pytest
    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        pack_sequence_spans,
        pack_training_sequences,
        packed_span_fill,
    )

    cap = 500
    spans = pack_sequence_spans(spark, sf_dir, capacity=cap).collect()
    packed = {
        r["doc_id"]: r for r in pack_training_sequences(spark, sf_dir, capacity=cap).collect()
    }
    by_doc: dict = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(packed)  # every kept doc contributes spans
    for doc_id, ss in by_doc.items():
        ss.sort(key=lambda r: r["seq_id"])
        assert ss[0]["span_start"] == 0
        assert all(s["span_len"] >= 1 for s in ss)
        pos = 0
        for s in ss:
            assert s["span_start"] == pos  # contiguous in-document
            pos += s["span_len"]
        assert pos == packed[doc_id]["n_tokens"]  # exact partition of the doc
        # first span lands in the document-level variant's sequence
        assert ss[0]["seq_id"] == packed[doc_id]["seq_id"]
        # consecutive spans are consecutive sequences starting at offset 0
        for prev, nxt in zip(ss, ss[1:]):
            assert nxt["seq_id"] == prev["seq_id"] + 1
            assert nxt["seq_offset"] == 0
            assert prev["seq_offset"] + prev["span_len"] == cap
    fill = packed_span_fill(spark, sf_dir, capacity=cap).collect()
    assert [s["seq_id"] for s in fill] == list(range(len(fill)))
    for s in fill[:-1]:
        assert s["total_tokens"] == cap and s["fill_ratio"] == 1.0
    assert fill[-1]["total_tokens"] <= cap

    with pytest.raises(ValueError, match="capacity"):
        pack_sequence_spans(spark, sf_dir, capacity=0)


def test_prefix_sum_layout_bit_equal_to_global_window(spark, sf_dir):
    """Round-13 verdict "What's wrong #1": the packing layout's running
    token sum is now a two-pass distributed prefix sum (_with_token_end);
    it must be BIT-EQUAL to the single global window it replaced (the
    DuckDB oracles still replay that one window). Pinned on the driver
    corpus, on a sparse/clustered-id synthetic (degenerate quantile
    boundaries), and on the empty frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        _kept_docs,
        _with_token_end,
    )

    n_tokens = F.size(F.split("text", " ")).cast("long")
    docs = _kept_docs(spark, sf_dir).select("doc_id", n_tokens.alias("n_tokens"))
    got = {r["doc_id"]: r["token_end"] for r in _with_token_end(docs).collect()}
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["doc_id"]: r["token_end"]
        for r in docs.withColumn("token_end", F.sum("n_tokens").over(w)).collect()
    }
    assert got == want and len(got) > 0
    # and the new plan has no single-partition window exchange
    plan = (
        _with_token_end(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan and "Exchange SinglePartition" not in plan

    # sparse, clustered ids: most quantile boundaries collapse
    rows = [(i, i % 5 + 1) for i in (1, 2, 3, 7, 1_000_000, 1_000_001, 10**12)]
    sdf = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got2 = {r["doc_id"]: r["token_end"] for r in _with_token_end(sdf).collect()}
    acc, want2 = 0, {}
    for i, t in sorted(rows):
        acc += t
        want2[i] = acc
    assert got2 == want2

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert _with_token_end(empty).collect() == []


def test_envelope_validation_and_tie_determinism(spark):
    """Round-9 review fixes: mod without a key raises (it IS key % N);
    pre-existing envelope columns raise instead of being clobbered; and a
    NON-unique order column still yields a deterministic content→offset
    multiset (total ordering via full-row tiebreak) across partitionings."""
    rows = spark.range(30).select(
        (F.col("id") % 3).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    with pytest.raises(ValueError, match="partition_key"):
        with_kafka_envelope(rows, topic="t", partitioner="mod")
    with pytest.raises(ValueError, match="envelope column"):
        with_kafka_envelope(
            rows.withColumn("offset", F.lit(0)), topic="t"
        )
    # grp is 10-way tied within each topic-partition: the old single-column
    # ordering made offsets shuffle-arrival-dependent
    a = with_kafka_envelope(
        rows.coalesce(1), topic="t", num_partitions=2,
        partition_key="grp", order_col="grp",
    )
    b = with_kafka_envelope(
        rows.repartition(8), topic="t", num_partitions=2,
        partition_key="grp", order_col="grp",
    )
    key = lambda df: sorted(
        (r["partition"], r["offset"], r["grp"], r["val"]) for r in df.collect()
    )
    assert key(a) == key(b)


def test_run_batch_requires_envelope_offsets(spark, tmp_path):
    """A non-enveloped batch must be rejected: without a batch identity the
    second put() would TRUNCATE the first (round-9 review)."""
    plain = spark.range(5).select(
        F.lit(True).alias("boolean_col"),
        F.col("id").cast("int").alias("int_col"),
        F.col("id").cast("long").alias("long_col"),
        F.col("id").cast("float").alias("float_col"),
        F.col("id").cast("double").alias("double_col"),
        F.col("id").cast("string").alias("string_col"),
    )
    pipe = IngestPipeline(str(tmp_path / "o"), SIX_TYPE_SCHEMA)
    with pytest.raises(ValueError, match="offset"):
        pipe.run_batch(plain)


def test_run_stream_rejects_parity_naming(spark, tmp_path):
    """The file-sink streaming path cannot produce the offset-named parity
    layout; a parity config must fail loudly, not silently write the
    Spark-native layout (round-9 review)."""
    pipe = IngestPipeline(
        str(tmp_path / "o"), SIX_TYPE_SCHEMA, parity_naming=True
    )
    src = make_records(spark, 3)
    with pytest.raises(NotImplementedError, match="foreachBatch"):
        pipe.run_stream(src, str(tmp_path / "cp"))


def test_run_stream_caps_files_partitions_and_writes_value_columns_only(spark, tmp_path):
    """``run_stream``'s own promises, in one availableNow run: no ORC file
    holds more than ``flush_size`` rows, the output is laid out in
    ``partition=N/`` directories, and only value columns land in the
    files — the envelope's key, topic and offset do not."""
    import glob

    import pyarrow.orc as po

    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        file_stream_source,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    records = make_records(spark, 30, num_partitions=3)
    records.coalesce(1).write.parquet(src)
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=4)
    pipe.run_stream(file_stream_source(spark, src, records.schema), str(tmp_path / "cp")).awaitTermination()

    files = glob.glob(os.path.join(out, "partition=*", "*.orc"))
    sizes = [po.ORCFile(f).nrows for f in files]
    assert sum(sizes) == 30 and max(sizes) <= 4, sizes
    assert sorted({os.path.basename(os.path.dirname(f)) for f in files}) == [
        "partition=0", "partition=1", "partition=2"
    ]
    assert all(po.ORCFile(f).schema.names == [f.name for f in SIX_TYPE_SCHEMA.fields] for f in files)
    back = pipe.read_back(spark)
    assert set(back.columns) == {"partition", *(f.name for f in SIX_TYPE_SCHEMA.fields)}
    assert back.count() == 30


def test_parity_topic_with_escaped_chars(spark, tmp_path):
    """A topic containing '#' rides partitionBy as %23; the finalize must
    unescape before building file keys so the reference's '#'→'_'
    sanitation applies to the REAL topic string (round-9 review)."""
    out = str(tmp_path / "out")
    records = make_records(spark, 4, topic="a#b")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=10, parity_naming=True)
    written = pipe.run_batch(records)
    assert written == [file_key_to_commit("topics", "a#b", "a#b", 0, 0)]
    assert written[0].startswith("topics_a_b_a_b_")  # sanitized, unescaped
    assert pipe.read_back(spark).count() == 4


def test_parity_topic_with_underscores(spark, tmp_path):
    """The staged group key is ``<partition>_<start_offset>_<topic>``: a
    topic holding the delimiter itself comes back whole."""
    out = str(tmp_path / "out")
    records = make_records(spark, 12, num_partitions=2, topic="orders_v2_eu")
    pipe = IngestPipeline(out, SIX_TYPE_SCHEMA, flush_size=3, parity_naming=True)
    written = pipe.run_batch(records)
    assert written == sorted(
        file_key_to_commit("topics", "orders_v2_eu", "orders_v2_eu", p, off)
        for p in range(2)
        for off in (0, 3)
    )
    assert pipe.read_back(spark).count() == 12


def test_evolving_read_back_drops_bookkeeping_cols(spark, tmp_path):
    """Non-parity EvolvingIngest read_back must not leak gen=/batch=
    write-layout partition columns into the returned schema (round-9
    review; parity path already hid them via recursiveFileLookup)."""
    from kafka_connect_storage_cloud_formats_spark.pipeline import EvolvingIngest

    ing = EvolvingIngest(str(tmp_path / "evo"), parity_naming=False, flush_size=100)
    ing.ingest(make_records(spark, 5), SIX_TYPE_SCHEMA)
    back = ing.read_back(spark)
    assert "gen" not in back.columns and "batch" not in back.columns
    assert back.count() == 5


def test_pack_sequence_spans_capacity_edges(spark, sf_dir):
    """Capacity edge regimes: capacity=1 fragments every document into
    per-token spans (every sequence holds exactly one token — fan-out =
    total tokens, the explode's worst case), and a capacity larger than
    the whole corpus yields exactly one span per document in sequence 0.
    Both must keep the exact-partition invariant."""
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        pack_sequence_spans,
        pack_training_sequences,
    )

    total_tokens = {
        r["doc_id"]: r["n_tokens"]
        for r in pack_training_sequences(spark, sf_dir, capacity=1000).collect()
    }
    corpus_tokens = sum(total_tokens.values())

    # capacity=1: one span per token, all span_len == 1, seq ids are the
    # global token positions
    one = pack_sequence_spans(spark, sf_dir, capacity=1)
    agg = one.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("span_len").alias("mn"),
        F.max("span_len").alias("mx"),
        F.countDistinct("seq_id").alias("nseq"),
    ).collect()[0]
    assert (agg["n"], agg["mn"], agg["mx"], agg["nseq"]) == (
        corpus_tokens, 1, 1, corpus_tokens,
    )

    # capacity >> corpus: exactly one span per doc, all in sequence 0
    big = pack_sequence_spans(spark, sf_dir, capacity=corpus_tokens + 1).collect()
    assert len(big) == len(total_tokens)
    for r in big:
        assert r["seq_id"] == 0 and r["span_start"] == 0
        assert r["span_len"] == total_tokens[r["doc_id"]]


def test_parity_finalize_refuses_to_delete_unmatched_staged_data(spark, tmp_path, monkeypatch):
    """A finalize glob that matches nothing while staged group dirs exist
    must raise and leave the staged data in place."""
    from kafka_connect_storage_cloud_formats_spark import fsio
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

    monkeypatch.setattr(fsio._HadoopFS, "glob_paths", lambda self, pattern: [])
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="refusing to delete staged data"):
        write_orc_parity(make_records(spark, 7), out, flush_size=3, value_cols=SIX_TYPE_COLS)
    assert any(n.startswith("__group=") for n in os.listdir(os.path.join(out, "_staged")))


def test_parity_finalize_requires_one_part_per_group(spark, tmp_path, monkeypatch):
    """A file group staged as two part files cannot keep one-file parity:
    the finalize raises instead of picking one."""
    from kafka_connect_storage_cloud_formats_spark import fsio
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

    real = fsio._HadoopFS.glob_paths
    monkeypatch.setattr(fsio._HadoopFS, "glob_paths", lambda self, p: 2 * real(self, p))
    with pytest.raises(RuntimeError, match="produced 2 part files; expected 1"):
        write_orc_parity(
            make_records(spark, 7), str(tmp_path / "out"), flush_size=3, value_cols=SIX_TYPE_COLS
        )


def test_parity_finalize_rename_failure_chains_the_cause(spark, tmp_path, monkeypatch):
    """A failed rename raises with the filesystem's error as its cause."""
    from kafka_connect_storage_cloud_formats_spark import fsio
    from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

    cause = PermissionError(13, "injected EACCES")

    def failing_rename(self, src, dst):
        self.last_error = cause
        return False

    monkeypatch.setattr(fsio._HadoopFS, "rename", failing_rename)
    with pytest.raises(RuntimeError, match="rename failed") as err:
        write_orc_parity(
            make_records(spark, 7), str(tmp_path / "out"), flush_size=3, value_cols=SIX_TYPE_COLS
        )
    assert err.value.__cause__ is cause


def test_run_batch_gateway_round_trips(spark, tmp_path, monkeypatch):
    """Planning a parity ``run_batch`` is driver work paid per poll, and
    most of it is py4j round trips: every Python-built Column, each with
    its own call-site capture and ``functions`` lookup. The cast and
    group-key projections are SQL strings, so the count stays flat in the
    number of value columns. Measured on this 4-file fixture: 624 commands
    with Column-built projections, 212 with SQL strings; py4j's
    memory-release messages (``m\\nd\\n``) are not counted."""
    from py4j.clientserver import JavaClient
    from py4j.java_gateway import GatewayClient

    sent, depth = [0], [0]
    for cls in (JavaClient, GatewayClient):
        if "send_command" not in vars(cls):
            continue

        def counting(self, command, *args, _orig=vars(cls)["send_command"], **kwargs):
            # count the outermost send only, in case one class delegates to the other
            if depth[0] == 0 and not command.startswith("m\nd\n"):
                sent[0] += 1
            depth[0] += 1
            try:
                return _orig(self, command, *args, **kwargs)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, "send_command", counting)

    records = make_records(spark, 40, num_partitions=2)
    pipe = IngestPipeline(str(tmp_path / "out"), SIX_TYPE_SCHEMA, flush_size=10, parity_naming=True)
    sent[0] = 0
    written = pipe.run_batch(records)
    commands = sent[0]
    monkeypatch.undo()
    assert len(written) == 4
    assert commands <= 624 // 2, commands


QUOTED_SCHEMA = T.StructType(
    [
        T.StructField("flag on", T.BooleanType(), True),
        T.StructField("n.int", T.IntegerType(), True),
        T.StructField("Big`Long", T.LongType(), True),
        T.StructField("MixedCase", T.FloatType(), True),
        T.StructField("d.d x", T.DoubleType(), True),
        T.StructField("s`.`t", T.StringType(), True),
    ]
)


def test_value_columns_needing_quotes_roundtrip(spark, tmp_path):
    """Value column names with a space, a dot, a backtick and mixed case,
    one per engine type, survive the SQL-string projections of parity
    ``run_batch``, native ``run_batch`` and ``run_stream``: the files hold
    the same names, types and rows as the input. The files are read with
    pyarrow because Spark's ORC schema inference cuts a column name at its
    first backtick (``Big`Long`` reads back as ``Big``)."""
    import glob

    import pyarrow as pa
    import pyarrow.orc as po

    from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
        file_stream_source,
    )

    rows = [
        (i % 2 == 0, i * 7 - 3, i * 1_000_003, i * 0.25, i * 0.5 + 0.125, f"r`.{i}")
        for i in range(12)
    ]
    envelope = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            *QUOTED_SCHEMA.fields,
        ]
    )
    records = spark.createDataFrame(
        [("k", "t", i % 2, i // 2, *r) for i, r in enumerate(rows)], envelope
    )
    src = str(tmp_path / "src")
    records.coalesce(1).write.parquet(src)
    arrow_types = (pa.bool_(), pa.int32(), pa.int64(), pa.float32(), pa.float64(), pa.string())
    want_schema = pa.schema(list(zip((f.name for f in QUOTED_SCHEMA.fields), arrow_types)))

    def check(pipe):
        files = glob.glob(os.path.join(pipe.out_dir, "**", "*.orc"), recursive=True)
        tables = [po.ORCFile(f).read() for f in files]
        assert all(t.schema.remove_metadata() == want_schema for t in tables), tables[0].schema
        got = [tuple(r.values()) for t in tables for r in t.to_pylist()]
        assert sorted(got) == sorted(rows)
        assert pipe.read_back(spark).count() == len(rows)

    parity = IngestPipeline(str(tmp_path / "parity"), QUOTED_SCHEMA, flush_size=4, parity_naming=True)
    assert len(parity.run_batch(records)) == 4
    check(parity)
    native = IngestPipeline(str(tmp_path / "native"), QUOTED_SCHEMA, flush_size=4)
    native.run_batch(records)
    check(native)
    stream = IngestPipeline(str(tmp_path / "stream"), QUOTED_SCHEMA, flush_size=4)
    stream.run_stream(
        file_stream_source(spark, src, envelope), str(tmp_path / "cp")
    ).awaitTermination()
    check(stream)


def test_parity_writes_value_fields_named_key_and_ts(spark, tmp_path):
    """A value schema may name its fields ``key`` and ``ts``, the names of
    the Kafka record key and of the source's timestamp alias: the parity
    pipeline writes both into its ORC files, with the record values."""
    import pyarrow.orc as po

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    rows = [(f"k{i}", 1_700_000_000 + i, i) for i in range(5)]
    records = spark.createDataFrame(
        [("t", 0, i, *r) for i, r in enumerate(rows)],
        "topic string, partition int, offset long, key string, ts long, v int",
    )
    pipe = IngestPipeline(str(tmp_path / "out"), schema, flush_size=3, parity_naming=True)
    written = pipe.run_batch(records)
    assert written == [file_key_to_commit("topics", "t", "t", 0, off) for off in (0, 3)]
    got = []
    for key in written:
        table = po.ORCFile(os.path.join(pipe.out_dir, key)).read()
        assert table.column_names == ["key", "ts", "v"]
        got += [tuple(r.values()) for r in table.to_pylist()]
    assert got == rows
