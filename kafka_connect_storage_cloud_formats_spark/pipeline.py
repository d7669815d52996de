"""The ingest pipeline: envelope source → typed value columns → ORC files.

This is the reference's entire production path (SURVEY.md §3.1):

    Kafka poll → SinkRecord batch → schema capture → vectorized fill →
    partitioned, offset-named ORC file + commit

re-expressed as one declarative Spark plan. The schema-capture /
vector-fill / file-commit machinery (reference ``OrcRecordWriter.java``)
is Spark's ORC datasource; what remains ours is the *semantics*: which
columns land in the file, how files are partitioned, named and rotated,
and idempotence across retries.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_storage_cloud_formats_spark.schema import (
    cast_exprs,
    quote_ident,
    validate_engine_schema,
)
from kafka_connect_storage_cloud_formats_spark.sinks import formats
from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

ENVELOPE_COLS = ("key", "topic", "partition", "offset")


@dataclass
class IngestPipeline:
    """Config-object equivalent of the reference's connector config
    (``S3SinkConnectorConfig``): flush size, output dir, value schema.

    ``parity_naming=True`` reproduces the reference's offset-named one-file-
    per-flush layout (SURVEY.md §2.1 #13-15); ``False`` uses the idiomatic
    Spark layout (Hive-style ``partition=N/`` dirs + ``maxRecordsPerFile``),
    which is what a 100 TB deployment should run.
    """

    out_dir: str
    value_schema: T.StructType
    flush_size: int = 10_000
    parity_naming: bool = False

    def __post_init__(self) -> None:
        validate_engine_schema(self.value_schema)

    def run_batch(self, records: DataFrame) -> list[str] | None:
        """Process one batch of enveloped records (the reference's
        ``S3SinkTask.put``). Returns written file keys in parity mode.

        Native layout: each batch lands in its own ``batch=<id>`` subdir,
        ``id`` a hash of the batch's per-(topic, partition) offset ranges
        (Kafka batch identity), and overwrites only that subdir. Re-running
        a batch is idempotent; successive batches accumulate. The id costs
        one metadata-scale aggregation, so ``records`` is persisted across
        that action and the write, and must be a deterministic plan.
        """
        if self.parity_naming:
            return write_orc_parity(
                coerce_stream(records, self.value_schema),
                self.out_dir,
                flush_size=self.flush_size,
                value_cols=[f.name for f in self.value_schema.fields],
            )
        if "offset" not in records.columns:
            # without offsets there is no batch identity: the overwrite
            # would land at out_dir and truncate every earlier batch
            raise ValueError(
                "run_batch requires enveloped records (an 'offset' column "
                "— with_kafka_envelope); for a plain one-shot write use "
                "sinks.formats.write_partitioned"
            )
        keep = ["partition"] if "partition" in records.columns else []
        df = coerce_stream(records, self.value_schema, keep=keep)
        records = records.persist()
        try:
            id_cols = [c for c in ("topic", "partition") if c in records.columns]
            ranges = (
                records.groupBy(*id_cols)
                .agg(F.min("offset"), F.max("offset"), F.count(F.lit(1)))
                .collect()
            )
            tag = hashlib.md5(
                repr(sorted(tuple(r) for r in ranges)).encode()
            ).hexdigest()[:12]
            formats.write_partitioned(
                df,
                f"{self.out_dir}/batch={tag}",
                fmt="orc",
                compression="zstd",  # Spark's ORC default, as this layout has always written
                partition_cols=tuple(keep),
                max_records_per_file=self.flush_size,
            )
        finally:
            records.unpersist()
        return None

    def run_stream(self, records: DataFrame, checkpoint: str) -> StreamingQuery:
        """The engine's stream → ORC sink: starts an ``availableNow`` query
        and returns it. Exactly-once via the checkpoint and the file sink's
        ``_spark_metadata`` commit log, the Spark-native form of the
        reference's deterministic-name-overwrite recovery
        (``DataWriterOrcTest.java:102-124``). Writes the native layout:
        value columns only, ``partitionBy("partition")`` when the records
        carry that column, at most ``flush_size`` rows per file."""
        if self.parity_naming:
            # offset-named files need run_batch's batch rename pass
            raise NotImplementedError(
                "parity_naming on the streaming path: drive run_batch from "
                "foreachBatch; the file-sink path writes the Spark-native "
                "layout only"
            )
        keep = ["partition"] if "partition" in records.columns else []
        df = coerce_stream(records, self.value_schema, keep=keep)
        writer = (
            df.writeStream.format("orc")
            .option("path", self.out_dir)
            .option("checkpointLocation", checkpoint)
            .option("maxRecordsPerFile", self.flush_size)
            .trigger(availableNow=True)
        )
        if keep:
            writer = writer.partitionBy(*keep)
        return writer.start()

    def read_back(self, spark: SparkSession) -> DataFrame:
        """Read-back operator over everything the pipeline wrote."""
        if self.parity_naming:
            # pathGlobFilter (not a /*.orc glob) keeps the file-sink metadata
            # probe from logging a spurious FileNotFoundException
            return (
                spark.read.format("orc")
                .option("pathGlobFilter", "*.orc")
                .option("recursiveFileLookup", "false")
                .load(self.out_dir)
            )
        back = formats.read_back(spark, self.out_dir)
        # batch=<id> is write-layout bookkeeping, not data
        return back.drop("batch") if "batch" in back.columns else back


class EvolvingIngest:
    """Schema-evolution-aware ingest: batches may arrive with different
    (compatible) schemas; each schema *upgrade* rotates to a new generation
    directory, and older-shaped batches are projected onto the current
    schema (Connect's StorageSchemaCompatibility + SchemaProjector behavior
    — see schema_evolution.py), under BACKWARD compatibility. ``read_back``
    merges all generations.
    """

    def __init__(
        self,
        base_dir: str,
        flush_size: int = 10_000,
        parity_naming: bool = True,
    ) -> None:
        from kafka_connect_storage_cloud_formats_spark.schema_evolution import SchemaTracker

        self.base_dir = base_dir
        self.flush_size = flush_size
        self.parity_naming = parity_naming
        self.tracker = SchemaTracker()
        self.generation = -1
        self._pipe: IngestPipeline | None = None

    def ingest(self, records: DataFrame, schema: T.StructType) -> list[str] | None:
        """Write one enveloped batch carrying ``schema``. Raises
        IncompatibleSchemaError on a disallowed change."""
        action = self.tracker.observe(schema)
        if action == "rotate" or self._pipe is None:
            self.generation += 1
            self._pipe = IngestPipeline(
                f"{self.base_dir}/gen={self.generation:04d}",
                self.tracker.current,
                flush_size=self.flush_size,
                parity_naming=self.parity_naming,
            )
        # Project the batch onto the current schema: envelope passes
        # through, missing nullable value fields become NULL, and a missing
        # NON-nullable field fails loudly.
        from kafka_connect_storage_cloud_formats_spark.schema_evolution import (
            project_to_schema,
        )

        return self._pipe.run_batch(
            project_to_schema(records, self.tracker.current, passthrough=ENVELOPE_COLS)
        )

    def read_back(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format("orc").option("mergeSchema", "true")
        if self.parity_naming:
            reader = reader.option("pathGlobFilter", "*.orc").option(
                "recursiveFileLookup", "true"
            )
        back = reader.load(self.base_dir)
        # gen=/batch= are write-layout bookkeeping discovered as partition
        # columns on the non-parity (Hive-layout) path, not data — same
        # contract as IngestPipeline.read_back
        return back.drop(*[c for c in ("gen", "batch") if c in back.columns])


def coerce_stream(
    records: DataFrame, schema: T.StructType, keep: Sequence[str] | None = None
) -> DataFrame:
    """Streaming-safe projection, one ``selectExpr``: the columns in ``keep``
    (default: every non-value column of ``records``) pass through, then the
    value columns cast onto the engine schema."""
    value_names = {f.name for f in schema.fields}
    other = [c for c in (records.columns if keep is None else keep) if c not in value_names]
    return records.selectExpr(*map(quote_ident, other), *cast_exprs(schema))
