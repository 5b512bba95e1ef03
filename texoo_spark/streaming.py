"""Structured Streaming variants of the extraction pipeline.

The BASELINE job is batch-with-resume (partition manifests), but the same
extraction lane composes with readStream for incremental ingest: new
transcript files land, each micro-batch extracts and appends. Watermarked
tumbling windows cover late-arriving turns for the metrics stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from texoo_spark.schema import TRANSCRIPT_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str,
                   newlines: str = "DISCARD") -> DataFrame:
    """File-source stream of transcript parquet -> extracted turns."""
    from texoo_spark.pipeline import extract_turns
    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    return extract_turns(stream, newlines=newlines)


def stream_metrics(extracted: DataFrame,
                   window: str = "1 hour",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window throughput metrics over the stream."""
    return (extracted
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "role")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum("n_sentences").alias("n_sentences")))


def run_stream_once(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str) -> None:
    """Process everything currently available, then stop (Trigger.AvailableNow)
    — the streaming equivalent of the batch resume contract: the checkpoint
    records consumed files, so reruns pick up only new data."""
    extracted = stream_extract(spark, input_dir)
    q = (extracted.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination()
