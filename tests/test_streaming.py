"""Structured Streaming tests: availableNow runs over the events parquet
must produce exactly the batch answers (batch/stream parity)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from universal_parquet_exporter_spark.streaming import (
    streaming_event_counts,
    streaming_quality_scores,
)


@pytest.fixture()
def checkpoint():
    d = tempfile.mkdtemp(prefix="upes_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def staged(checkpoint):
    """readStream's file source needs a *directory*; stage single parquet
    files into one."""

    def stage(name):
        src_dir = os.path.join(checkpoint, f"src_{name}")
        os.makedirs(src_dir, exist_ok=True)
        shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"), src_dir)
        return src_dir

    return stage


def _run_available_now(df, checkpoint):
    q = (
        df.writeStream.format("memory")
        .queryName("t_out")
        .outputMode("complete" if df.isStreaming else "append")
        .option("checkpointLocation", os.path.join(checkpoint, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_event_counts_match_batch(spark, checkpoint, staged):
    src = staged("events")
    schema = spark.read.parquet(src).schema
    stream_df = streaming_event_counts(spark, src, schema, window="1 hour", watermark="2 hours")
    q = _run_available_now(stream_df, checkpoint)
    got = spark.table("t_out")

    batch = (
        spark.read.parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    assert got.count() == batch.count()
    diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
    assert diff == 0


def test_streaming_quality_matches_batch(spark, checkpoint, staged):
    src = staged("documents")
    schema = spark.read.parquet(src).schema
    stream_df = streaming_quality_scores(spark, src, schema)
    q = (
        stream_df.writeStream.format("memory")
        .queryName("t_quality")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_quality")
    assert got.count() == spark.read.parquet(src).count()
    assert got.where(F.col("n_tokens") < 0).count() == 0


def test_stateful_running_totals_across_batches(spark, checkpoint):
    """applyInPandasWithState keeps per-key state across micro-batches:
    two staged files -> two triggers -> final snapshot is cumulative."""
    from universal_parquet_exporter_spark.streaming import streaming_running_totals

    src = os.path.join(checkpoint, "src_events2")
    os.makedirs(src, exist_ok=True)
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), os.path.join(src, "a.parquet"))
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), os.path.join(src, "b.parquet"))
    schema = spark.read.parquet(src).schema

    stream_df = streaming_running_totals(spark, src, schema)
    q = (
        stream_df.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(checkpoint, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_state")

    batch = (
        spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    # the LAST update per key must equal the doubled batch totals
    final = got.groupBy("event_type").agg(F.max("n").alias("n"))
    exp = {r.event_type: r.n for r in batch.collect()}
    for r in final.collect():
        assert r.n == exp[r.event_type], (r.event_type, r.n, exp[r.event_type])
    # and intermediate snapshots exist (cross-batch state was exercised)
    assert got.count() > final.count()
