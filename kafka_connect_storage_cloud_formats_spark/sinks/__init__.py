from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import write_orc_parity

__all__ = ["write_orc_parity"]
