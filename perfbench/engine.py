"""Every call the benchmark makes into the engine, each inside a span
named after the engine module it enters.  Keeping them in one file
makes the span names and the engine surface the benchmark depends on
easy to audit."""

from __future__ import annotations

import os

import pyarrow as pa

from data import fingerprint
from universal_parquet_exporter_spark.encode import compaction, pipeline
from universal_parquet_exporter_spark.sources import session, spark_datasource

# Host-sized layout: the engine defaults (64 MB units, 32768-row chunks,
# 64 MB scan partitions) scaled down 64x in bytes and 32x in rows, so a
# run of 8000 rows (13 MB) still has a dozen units and chunks to prune
# and several scan partitions to spread over four cores.
TARGET_UNIT_BYTES = 1 << 20
CHUNK_ROWS = 1024
PARTITION_BYTES = 1 << 20
CORES = 4


def start_session(tracer, work: str):
    """The engine's ``local[4]`` session, with its scratch files under
    ``work`` (the JVM's own temporary files follow ``JAVA_TOOL_OPTIONS``,
    set by ``run.py``)."""
    with tracer.span("sources.session:build_session"):
        spark = session.build_session(
            app_name="perfbench",
            cpus=CORES,
            extra_conf={
                "spark.local.dir": f"{work}/spark-local",
                "spark.sql.warehouse.dir": f"{work}/warehouse",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark_datasource.register(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def encode_config(output_dir: str, **kw) -> pipeline.EncodeJobConfig:
    return pipeline.EncodeJobConfig(
        output_dir=output_dir,
        target_unit_bytes=TARGET_UNIT_BYTES,
        chunk_rows=CHUNK_ROWS,
        **kw,
    )


def encode_parquet(tracer, spark, input_dir: str, output_dir: str) -> dict:
    with tracer.span("encode.pipeline:encode_parquet_job") as a:
        m = pipeline.encode_parquet_job(spark, input_dir, encode_config(output_dir))
        a["encode_stage_sec"] = m["encode_stage_sec"]
    return m


def encode_dataframe(tracer, spark, df, output_dir: str, cluster_by: tuple = ()) -> dict:
    with tracer.span("encode.pipeline:encode_job") as a:
        m = pipeline.encode_job(spark, df, encode_config(output_dir, cluster_by=cluster_by))
        a["encode_stage_sec"] = m["encode_stage_sec"]
    return m


def build_plan(tracer, df, output_dir: str):
    with tracer.span("encode.pipeline:load_or_build_plan"):
        return pipeline.load_or_build_plan(df, encode_config(output_dir))


def decode(tracer, spark, path: str, filters=None, pruning_evidence=None):
    with tracer.span("encode.pipeline:decode_dataset"):
        return pipeline.decode_dataset(
            spark, path, filters=filters, pruning_evidence=pruning_evidence
        )


def load(tracer, spark, path: str, condition=None):
    with tracer.span("sources.spark_datasource:load"):
        df = (
            spark.read.format(spark_datasource.FORMAT_NAME)
            .option("partition_target_bytes", str(PARTITION_BYTES))
            .load(path)
        )
        return df if condition is None else df.where(condition)


def append(tracer, spark, tbl: pa.Table, path: str) -> None:
    with tracer.span("sources.spark_datasource:append", rows=tbl.num_rows):
        (
            spark.createDataFrame(tbl)
            .write.format(spark_datasource.FORMAT_NAME)
            .option("key_col", "url")
            .option("chunk_rows", str(CHUNK_ROWS))
            .mode("append")
            .save(path)
        )


def compact(tracer, spark, path: str, dry_run: bool = False) -> dict:
    with tracer.span("encode.compaction:compact", dry_run=dry_run):
        return compaction.compact(spark, path, chunk_rows=CHUNK_ROWS, dry_run=dry_run)


def collect(tracer, df) -> pa.Table:
    """Run a DataFrame and bring its rows to the driver as Arrow; the
    engine code inside runs in the Spark tasks this span waits for."""
    with tracer.span("spark:toArrow"):
        return df.toArrow()


def run_fingerprint(tracer, df) -> tuple:
    with tracer.span("spark:fingerprint"):
        return fingerprint(df)


def driver_reader(path: str):
    """The ``upe_encoded`` reader, built on the driver exactly as Spark's
    planning worker builds it (no Spark job involved)."""
    src = spark_datasource.EncodedContainerDataSource(
        {"path": path, "partition_target_bytes": str(PARTITION_BYTES)}
    )
    return src.reader(None)


def plan_partitions(tracer, reader) -> list:
    with tracer.span("sources.spark_datasource:partitions") as a:
        parts = reader.partitions()
        a["chunks"] = sum(len(p.chunks) for p in parts)
    return parts


def read_partitions(tracer, reader, parts) -> pa.Table:
    """Decode the given scan partitions in this process (one core)."""
    with tracer.span("sources.spark_datasource:read", partitions=len(parts)):
        batches = [b for p in parts for b in reader.read(p)]
    if not batches:
        return pa.table({})
    return pa.Table.from_batches(batches)


def live_payload_bytes(parts) -> int:
    """Payload bytes a full scan plans to read: the dataset's live bytes."""
    return sum(ch[2] for p in parts for ch in p.chunks)


def manifest_files(path: str) -> list[str]:
    d = pipeline.manifest_dir(path)
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
