"""Structured Streaming plans.

The reference is batch-only (SURVEY §1.5); the engine adds the streaming
surface a production corpus pipeline needs:

* ``incremental_extract``: new span-table parquet files appearing in a
  directory are extracted incrementally — foreachBatch runs the SAME batch
  pipeline per micro-batch (exactly-once via the streaming checkpoint +
  append sink), so batch and streaming semantics can't drift.
* ``windowed_event_counts``: watermarked sliding-window aggregation over
  the events table shape (late data handled by the watermark).
"""

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import SPAN_DOCS
from ..plans.pipeline import PipelineParams, extract_from_span_table


def incremental_extract(spark: SparkSession, input_dir: str, output_dir: str,
                        checkpoint_dir: str, params: PipelineParams,
                        with_images: bool = False):
    """Start (and return) a streaming query extracting each micro-batch of
    span docs through the batch pipeline. Use
    ``q.processAllAvailable(); q.stop()`` for synchronous draining."""
    stream = (spark.readStream.schema(SPAN_DOCS)
              .option("maxFilesPerTrigger", 16)
              .parquet(input_dir))

    def process(batch_df: DataFrame, epoch_id: int):
        if batch_df.isEmpty():
            return
        out = extract_from_span_table(batch_df, params, with_images=with_images)
        out.write.mode("append").parquet(output_dir)

    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .start())


def windowed_event_counts(events_stream: DataFrame,
                          window: str = "5 minutes",
                          slide: str = "1 minute",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked sliding-window counts per event_type (late rows beyond
    the watermark are dropped deterministically)."""
    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))
