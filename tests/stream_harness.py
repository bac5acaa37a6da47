"""Structured Streaming test harness: a file-source event stream, a
runner that drains a stream into a memory sink, and a foreachBatch
key-upsert sink over a whole table. The streaming tests run the
package's stream transforms and operators through these; production
streams come from the caller's own source and sink (the package's
upsert sink is streaming/sinks.stream_merge_to_partitioned_parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from build_datawarehouse_demo_spark.operators.scd import apply_cdc_changes, upsert
from build_datawarehouse_demo_spark.session import materialize
from build_datawarehouse_demo_spark.sources.writers import save_table

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


def apply_batch_upsert(
    spark,
    batch_df: DataFrame,
    table_name: str,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Idempotently fold one micro-batch into `table_name`: collapse
    the batch to its last change per key (order_cols must end in a
    unique tiebreak), then upsert into the current table state. The
    materialization breaks the read-from/write-to-same-table cycle a
    parquet overwrite cannot express."""
    collapsed = apply_cdc_changes(
        batch_df, key_cols=key_cols, order_cols=order_cols, op_col=None
    )
    if not spark.catalog.tableExists(table_name):
        save_table(collapsed, table_name, skip_empty=False)
        return
    current = spark.table(table_name)
    merged = materialize(upsert(current, collapsed, key=key_cols))
    save_table(merged, table_name, skip_empty=False)


def stream_upsert_to_table(
    events: DataFrame,
    table_name: str,
    key_cols: list[str],
    order_cols: list[str],
    checkpoint_dir: str,
):
    """foreachBatch writer over apply_batch_upsert; returns the started
    StreamingQuery. Checkpointing pins batch ids and the apply makes
    replays converge — together: effectively exactly-once."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch_upsert(
            batch_df.sparkSession, batch_df, table_name, key_cols, order_cols
        )

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
