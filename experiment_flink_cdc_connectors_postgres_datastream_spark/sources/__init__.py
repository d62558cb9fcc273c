from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.cdc_file import read_cdc_file_stream

__all__ = ["read_cdc_file_stream"]
