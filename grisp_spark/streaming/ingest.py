"""Incremental transcript ingestion via Structured Streaming.

The reference is pure batch (three full XML passes,
PageStep.java:71, LabelSensesStep.java:77, LabelOccurrencesStep.java:78);
this module is the forward-looking increment: new conversation files
land in a directory (the stand-in for Kafka / Iceberg incremental
reads), windowed counts aggregate with a watermark for late turns, and
a watermarked dedup drops repeated turns. The streaming KG itself
(linking + triples over the same broadcast KB) is
streaming/stateful.streaming_triples, run on stream_conversations."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONV_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_conversations(spark: SparkSession, in_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(CONV_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )


def windowed_turn_counts(stream: DataFrame) -> DataFrame:
    """Watermarked per-role turn counts in 1-minute windows — the
    streaming-aggregation smoke covering late-data semantics."""
    return (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute"), "role")
        .agg(F.count("*").alias("n_turns"))
    )


def dedup_stream(stream: DataFrame, within: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on text content: the first turn with a
    given md5(text) within the watermark horizon passes, later copies
    are dropped and — unlike a plain dropDuplicates — the dedup state
    for hashes older than the watermark is FREED, which is what makes
    this runnable forever on an unbounded stream. The batch analogue
    is operators/dedup.exact_dedup's hash-groupBy."""
    return (
        stream.withColumn("text_hash", F.md5(F.coalesce("text", F.lit(""))))
        .withWatermark("ts", within)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )

