"""kafka_connect_storage_cloud_formats_spark — a PySpark-native analytics/ingest engine.

Re-expresses the capabilities of the reference
``sbcd90/kafka-connect-storage-cloud-formats`` (a Kafka-Connect S3 ORC format
plugin, see ``/root/reference/src/main/java/io/confluent/connect/s3/format/orc/``)
as an idiomatic Spark engine:

- **Ingest pipeline**: stream of Kafka-envelope records → typed columns →
  partitioned, offset-named, exactly-once ORC files
  (reference: ``OrcRecordWriter.java``, ``FileUtils.java``).
- **Relational layer**: the full DataFrame/SQL surface Catalyst provides
  (the reference implements none of it — SURVEY.md §2.3 — so here it is
  "free" but exercised and benchmarked).
- **LLM-data-pipeline operators**: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text analysis,
  multimodal column plumbing — designed for 100 TB scale.
"""

from pyspark import SparkFiles

from kafka_connect_storage_cloud_formats_spark.session import get_spark

if SparkFiles._is_running_on_worker:  # a Python worker unpickling an engine UDF
    from kafka_connect_storage_cloud_formats_spark.pyworker import install_zip_guard

    install_zip_guard()

__all__ = ["get_spark"]
__version__ = "0.1.0"
