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


def test_streaming_encode_ingest_end_to_end(spark, checkpoint):
    """A web-page stream lands in the REAL encode engine: one micro-batch
    per source file (maxFilesPerTrigger=1), per-batch lineage, decode
    reproduces every streamed row exactly once, and a replayed batch is
    a committed no-op."""
    from universal_parquet_exporter_spark.encode.meta import completed_batch_tags
    from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
    from universal_parquet_exporter_spark.encode.scan import decode_dataset
    from universal_parquet_exporter_spark.fixtures import generate_webpages
    from universal_parquet_exporter_spark.streaming import streaming_encode_ingest

    src = os.path.join(checkpoint, "pages_src")
    out = os.path.join(checkpoint, "enc_out")
    pages = generate_webpages(spark, 3000, partitions=1).cache()
    # two arrivals -> two micro-batches
    pages.where("pmod(xxhash64(url), 2) = 0").coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    pages.where("pmod(xxhash64(url), 2) = 1").coalesce(1).write.mode("append").parquet(src)

    q = streaming_encode_ingest(spark, src, schema, out).trigger(availableNow=True).start()
    q.awaitTermination(180)

    tags = completed_batch_tags(out)
    assert len(tags) == 2, tags
    dec = decode_dataset(spark, out)
    assert dec.count() == 3000
    assert dec.select("url").distinct().count() == pages.select("url").distinct().count()
    j = pages.alias("a").join(dec.alias("b"), "url")
    assert (
        j.where(
            ~F.col("a.text").eqNullSafe(F.col("b.text"))
            | ~F.col("a.html").eqNullSafe(F.col("b.html"))
        ).count()
        == 0
    )

    # replayed attempt semantics: a torn attempt (encode ran again for an
    # already-committed batch under a fresh run_id, lineage never
    # committed for it) must stay invisible to decode — we emulate the
    # torn replay by running the encode WITHOUT the sink's tag guard and
    # dropping its lineage rows, then assert decode still sees each row
    # exactly once via the (unit, run_id) semi-join
    lineage_dir = os.path.join(out, "lineage")
    cfg = EncodeJobConfig(output_dir=out, skip_completed=False, batch_tag="torn_replay")
    encode_job(spark, pages.where("pmod(xxhash64(url), 2) = 0"), cfg)
    ldf = spark.read.parquet(lineage_dir)
    kept = spark.createDataFrame(
        ldf.where("batch_tag != 'torn_replay'").collect(), ldf.schema
    )
    shutil.rmtree(lineage_dir)
    kept.write.parquet(lineage_dir)
    assert decode_dataset(spark, out).count() == 3000  # duplicates invisible
    pages.unpersist()
