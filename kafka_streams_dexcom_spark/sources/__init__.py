"""Sources: parquet test tables, driver-held rows, Kafka stream/table sources, REST ingestion."""

from kafka_streams_dexcom_spark.sources.files import load_table, load_tables  # noqa: F401
from kafka_streams_dexcom_spark.sources.local import local_frame  # noqa: F401
