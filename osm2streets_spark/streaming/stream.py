"""Structured Streaming over the documents table.

The reference is a batch library with no streaming (SURVEY.md §2.12);
this is our engine's addition. Per-document processing is stateless
across documents, so the natural shape is an incremental-file (or
Iceberg incremental-snapshot) source + foreachBatch running the SAME
batch pipeline — checkpointing gives exactly-once sink semantics and
resumability (north_rule: resumable from checkpoint).

Also provided: a watermarked tumbling-window aggregation over the
events table — the standard late-data-tolerant streaming agg — to cover
the Structured Streaming windowing surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..plans.pipeline import convert_features

SPANS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def stream_street_network(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          trigger_available_now: bool = True):
    """Incrementally convert arriving document files into rendered
    feature parquet. Each micro-batch runs the batch feature pass
    (convert_features) — correct because no operator crosses
    documents."""
    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        convert_features(batch_df).write.mode("append").parquet(output_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_windows(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str, watermark: str = "1 hour",
                         window: str = "1 hour"):
    """Watermarked tumbling-window event counts — late data beyond the
    watermark is dropped, state is bounded (the standard pattern)."""
    ev_schema = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("event_windows")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
