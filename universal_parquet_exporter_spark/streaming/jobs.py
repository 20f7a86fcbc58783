"""Structured Streaming jobs: windowed event aggregation with watermarked
late-data handling, and streaming text-quality scoring.

Batch/stream parity by construction: the transformations are the same
Catalyst expressions used by the batch operators, applied to a
``readStream`` source — run with ``Trigger.AvailableNow`` they produce
exactly the batch answer, which is how the tests verify them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with a
    watermark bounding state for late data."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_quality_scores(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """Stateless streaming map: per-document quality features (same
    expressions as operators.textstats — batch/stream parity)."""
    from ..operators.textstats import quality_exprs

    stream = spark.readStream.schema(schema).parquet(source_dir)
    n_tokens, punct_ratio, stop_ratio, _avg = quality_exprs(F.col("text"))
    return stream.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
    )


def streaming_running_totals(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-event_type row counts and value sums maintained across
    micro-batches (state survives between triggers via the checkpoint).
    Each trigger emits the updated cumulative snapshot for the keys it
    touched.  ``maxFilesPerTrigger=1`` keeps one file per micro-batch so
    cross-batch state is actually exercised."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(source_dir)
    )

    def update(key, pdf_iter, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        "event_type string, n long, total_value double",
        "n long, total_value double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
