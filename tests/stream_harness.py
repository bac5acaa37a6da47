"""Structured Streaming test harness: a file-source event stream, and a
runner that drains a stream into a memory sink. The streaming tests run
the package's stream transforms through these; production streams come
from the caller's own source and sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over an events directory (the local stand-in
    for Kafka; swap format for production)."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )


def run_stream_to_memory(result: DataFrame, query_name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to a memory sink until all available
    input is PROCESSED (test/smoke harness). Processed ≠ emitted: in
    append mode, windowed aggregates newer than max_event_ts -
    watermark are withheld (the watermark never advances past a finite
    input's last event) — pass output_mode='complete' (aggregations)
    or 'update' (stateful ops) when the trailing windows matter, as
    the streaming tests do."""
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
