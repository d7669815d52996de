"""Kafka record-envelope sources.

The reference consumes ``SinkRecord(topic, partition, keySchema, key,
valueSchema, value, offset)`` batches (``DataWriterOrcTest.java:306``). In
Spark the same envelope is the schema of the Kafka source: columns ``key,
value, topic, partition, offset, timestamp``.

Two entry points:

- ``kafka_stream_source`` — the production path:
  ``spark.readStream.format("kafka")`` (requires the Kafka connector jar +
  a broker; gated so tests run without either).
- ``with_kafka_envelope`` — deterministic envelope synthesis over any batch
  DataFrame, used by tests and the driver's parquet fixtures: assigns a
  topic, hash-partitions rows into N topic-partitions, and derives
  per-partition contiguous offsets. This mirrors exactly how the reference's
  tests fabricate records (``DataWriterOrcTest.java:276-310``).

Scale note: offset derivation uses a per-partition ``row_number`` window —
a single shuffle keyed by the (few) topic-partitions. Kafka partition counts
are small (≤ thousands) by construction, so the window never skews beyond
real Kafka semantics (offsets ARE a per-partition sequence; any
implementation must serialize per partition, as the broker itself does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def with_kafka_envelope(
    df: DataFrame,
    topic: str,
    num_partitions: int = 3,
    partition_key: str | None = None,
    order_col: str | None = None,
    partitioner: str = "hash",
) -> DataFrame:
    """Wrap a batch DataFrame in the Kafka envelope: adds ``topic``,
    ``partition`` (int), ``offset`` (long, contiguous from 0 per partition),
    ``key`` (a NULL string — the reference drops the key, SURVEY.md §1.3).

    ``partition_key``: column assigning the topic-partition (default:
    round-robin on a stable ordering). ``order_col``: column ordering records
    within a partition (Kafka append order); defaults to ``partition_key``.
    ``partitioner``: ``"hash"`` (xxhash64, Kafka's murmur2 analog) or
    ``"mod"`` (key % N — SQL-reproducible, used by oracle-gated queries).
    """
    if partitioner not in ("hash", "mod"):
        # validate unconditionally: an unknown partitioner must fail even on
        # the keyless path, not be silently swallowed
        raise ValueError(f"unknown partitioner {partitioner!r}")
    if partitioner == "mod" and not partition_key:
        # "mod" IS key % N — without a key it would silently fall through
        # to the full-row hash and an oracle reproducing the modulo
        # assignment would mismatch every row
        raise ValueError("partitioner='mod' requires partition_key")
    clobbered = [c for c in ("topic", "partition", "offset", "key") if c in df.columns]
    if clobbered:
        # withColumn would silently REPLACE caller data with the synthesized
        # envelope (worst case: a business 'partition' column becomes the
        # window key AND the default order column — every row ties)
        raise ValueError(
            f"input already carries envelope column(s) {clobbered}; rename "
            "them or drop them before synthesizing an envelope"
        )
    if partition_key and partitioner == "hash":
        part = F.pmod(F.xxhash64(F.col(partition_key)), F.lit(num_partitions))
    elif partition_key:  # "mod"
        part = F.pmod(F.col(partition_key), F.lit(num_partitions))
    else:
        # Keyless default must still honor the documented DETERMINISTIC
        # contract: hash the full row content. monotonically_increasing_id
        # encodes the physical partition index, so assignment would change
        # with input split count / parallelism — same table, different
        # envelope per run.
        part = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_partitions))
    part = part.cast("int")
    out = df.withColumn("topic", F.lit(topic)).withColumn("partition", part)
    # TOTAL ordering: row_number over a non-unique ordering is
    # shuffle-arrival-dependent, so the lead column (order_col /
    # partition_key / first column) is tiebroken by every remaining SOURCE
    # column — deterministic for any input as a content→offset multiset
    # (fully duplicate rows are interchangeable by definition).
    order = order_col or partition_key
    lead = [order] if order is not None else []
    tiebreak = [c for c in df.columns if c not in lead]
    w = Window.partitionBy("partition").orderBy(
        *[F.col(c).asc() for c in lead + tiebreak]
    )
    out = out.withColumn("offset", (F.row_number().over(w) - F.lit(1)).cast("long"))
    return out.withColumn("key", F.lit(None).cast("string"))


def avro_plan_available(spark: SparkSession) -> bool:
    """True iff ``from_avro`` plans analyze (the spark-avro module jar is
    loaded). THE availability probe — a schema-only analysis of a 1-row
    plan — shared by :func:`decode_value`'s gate and the registered
    ``avro_roundtrip`` query so a future Spark error-class change is
    handled in exactly one place."""
    from pyspark.sql.avro.functions import from_avro

    probe_schema = (
        '{"type":"record","name":"probe","fields":[{"name":"x","type":"long"}]}'
    )
    try:
        spark.createDataFrame([(bytearray(b""),)], "value binary").select(
            from_avro(F.col("value"), probe_schema)
        ).schema
        return True
    except Exception:  # AnalysisException AVRO_NOT_LOADED in bare containers
        return False


def decode_value(
    value_col: F.Column | str,
    value_schema: T.StructType,
    value_format: str = "json",
) -> F.Column:
    """Decode a Kafka ``value`` payload column into a struct of
    ``value_schema`` fields.

    ``value_format="json"`` — ``from_json`` over the UTF-8 payload (always
    available). ``value_format="avro"`` — the reference's actual value chain
    (Connect→Avro→ORC, ``OrcRecordWriter.java:64,71``): builds the
    ``from_avro`` plan with the Avro-JSON schema derived from
    ``value_schema`` via :func:`spark_schema_to_avro`. The plan *shape* is
    identical to the JSON path (one deserializer expression per row, fully
    JVM-side); availability is gated on the spark-avro package being loaded
    — when it is not, a RuntimeError explains the gate (SURVEY.md §2 gate
    notes).
    """
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    if value_format == "json":
        return F.from_json(col.cast("string"), value_schema)
    if value_format == "avro":
        import json as _json

        from pyspark.sql.avro.functions import from_avro

        from kafka_connect_storage_cloud_formats_spark.schema import spark_schema_to_avro

        schema_json = _json.dumps(spark_schema_to_avro(value_schema))
        # from_avro() constructs lazily and only fails at analysis; probe
        # availability now so callers get the documented gate error at
        # plan-construction time.
        spark = SparkSession.getActiveSession()
        if spark is not None and not avro_plan_available(spark):
            raise RuntimeError(
                "from_avro plan unavailable: spark-avro package not loaded "
                "(start the session with --packages org.apache.spark:spark-avro). "
                "JSON decode (value_format='json') is the gated-environment path."
            )
        return from_avro(col, schema_json)
    raise ValueError(f"unknown value_format {value_format!r}")


def kafka_stream_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema: T.StructType,
    starting_offsets: str = "earliest",
    value_format: str = "json",
) -> DataFrame:
    """Production Kafka source → decoded value columns + envelope.

    Returns a streaming DataFrame with the envelope columns plus the struct
    fields of ``value_schema`` (decoded from the value payload per
    ``value_format`` — see :func:`decode_value`; ``"avro"`` is the
    reference's Connect→Avro chain, gated on the spark-avro package).

    Gated: raises a clear error when the Kafka connector isn't on the
    classpath (the test container has no broker).
    """
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # pragma: no cover - no broker/jar in test env
        raise RuntimeError(
            "Kafka source unavailable (needs spark-sql-kafka jar + broker); "
            "use with_kafka_envelope() or file_stream_source() for local runs"
        ) from e
    decoded = raw.select(
        F.col("key").cast("string").alias("key"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("ts"),
        decode_value(F.col("value"), value_schema, value_format).alias("v"),
    )
    return decoded.select("key", "topic", "partition", "offset", "ts", "v.*")


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-file streaming source (CI stand-in for Kafka; same
    downstream pipeline). ``maxFilesPerTrigger`` simulates poll batches."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)
