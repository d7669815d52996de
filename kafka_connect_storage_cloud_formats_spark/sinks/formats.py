"""Multi-format partitioned sinks: the upstream storage-cloud format family.

The reference repo adds an ORC ``Format`` to the Confluent storage-cloud
connector family, whose sibling plugins are Avro, JSON, Parquet and
ByteArray formats (the reference's ``pom.xml`` pulls that framework; its
own plugin surface is ORC-only — SURVEY.md §2.1 #2). On Spark each of
these is a built-in datasource, so "supporting the family" is one writer
with a format/compression switch plus the same partitioning contract.

Compression: the reference leaves ORC at library defaults
(``writerOptions(new Configuration())``, OrcRecordWriter.java:90-95 —
i.e. ZLIB); here the codec is explicit per format. Codec choice changes
bytes, never values — roundtrip tests assert content equality under every
codec.

Avro needs the external spark-avro datasource jar, which this container
doesn't ship; ``write_partitioned(fmt="avro")`` is gated with a clear
error (same pattern as the Kafka source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMAT_COMPRESSIONS: dict[str, tuple[str, ...]] = {
    "orc": ("zlib", "snappy", "zstd", "lz4", "none"),
    "parquet": ("snappy", "zstd", "gzip", "none"),
    "json": ("gzip", "none"),
    "csv": ("gzip", "none"),
    "avro": ("snappy", "deflate", "none"),
    "bytearray": ("gzip", "none"),
}

DEFAULT_COMPRESSION: dict[str, str] = {
    "orc": "zlib",  # the reference's effective default (ORC library default)
    "parquet": "snappy",
    "json": "none",
    "csv": "none",
    "avro": "snappy",
    "bytearray": "none",
}

# ByteArray sibling format (upstream family's ByteArrayFormat: raw value
# bytes, one record per line-separator). Spark's text datasource carries one
# string column, so payload bytes are base64-armored per line — newline-safe
# where the upstream's raw concatenation is not (documented divergence;
# values round-trip exactly).
BYTEARRAY_VALUE_COL = "value"


def write_partitioned(
    df: DataFrame,
    path: str,
    fmt: str = "orc",
    compression: str | None = None,
    partition_cols: tuple[str, ...] = ("partition",),
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned write in any family format with an explicit codec;
    overwrites ``path``."""
    if fmt not in FORMAT_COMPRESSIONS:
        raise ValueError(f"unknown format {fmt!r}; known: {sorted(FORMAT_COMPRESSIONS)}")
    compression = compression or DEFAULT_COMPRESSION[fmt]
    if compression not in FORMAT_COMPRESSIONS[fmt]:
        raise ValueError(f"{fmt} does not support compression {compression!r}")
    if fmt == "bytearray":
        payload = [c for c in df.columns if c not in partition_cols]
        if payload != [BYTEARRAY_VALUE_COL]:
            raise ValueError(
                f"bytearray format requires exactly one non-partition column "
                f"named {BYTEARRAY_VALUE_COL!r} (binary); got {payload}"
            )
        df = df.select(
            *partition_cols, F.base64(F.col(BYTEARRAY_VALUE_COL)).alias(BYTEARRAY_VALUE_COL)
        )
        fmt = "text"
    writer = df.write.mode("overwrite").format(fmt).option("compression", compression)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    try:
        writer.save(path)
    except Exception as e:  # pragma: no cover - avro jar absent in this env
        if fmt == "avro":
            raise RuntimeError(
                "Avro format needs the external spark-avro datasource jar "
                "(org.apache.spark:spark-avro); not shipped in this environment"
            ) from e
        raise


def read_back(spark: SparkSession, path: str, fmt: str = "orc") -> DataFrame:
    if fmt == "bytearray":
        raw = spark.read.format("text").load(path)
        return raw.select(
            *[c for c in raw.columns if c != BYTEARRAY_VALUE_COL],
            F.unbase64(F.col(BYTEARRAY_VALUE_COL)).alias(BYTEARRAY_VALUE_COL),
        )
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.load(path)
