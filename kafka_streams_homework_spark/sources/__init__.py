"""Sources and sinks: batch parquet tables + Kafka edges."""

from kafka_streams_homework_spark.sources.batch import TABLES, load_table
from kafka_streams_homework_spark.sources.sink import write_parquet

__all__ = ["TABLES", "load_table", "write_parquet"]
