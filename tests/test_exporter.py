"""Exporter tests mirroring the reference's writer/orchestration contract
(/root/reference/tests/test_parquet_writer.py:38-76 round-trip +
error-propagation; examples/advanced_integration_example.py:80-114
per-query isolation)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from universal_parquet_exporter_spark.export import (
    ParquetExporter,
    create_timestamped_directory,
)


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="upes_export_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_export_roundtrip(spark, outdir):
    df = spark.read.parquet(os.path.join(SF_SMOKE, "customer.parquet"))
    with ParquetExporter(spark, outdir) as ex:
        res = ex.export("customers", df.select("c_custkey", "c_name"))
    assert res.ok and res.rows == df.count()
    back = spark.read.parquet(res.path)
    assert back.count() == res.rows
    assert back.columns == ["c_custkey", "c_name"]


def test_export_empty_result_keeps_schema(spark, outdir):
    """The reference writer raises on empty input (parquet_writer.py:10-11);
    the engine exports an empty-but-schema'd file instead."""
    df = spark.read.parquet(os.path.join(SF_SMOKE, "customer.parquet")).filter(
        F.col("c_custkey") < 0
    )
    with ParquetExporter(spark, outdir) as ex:
        res = ex.export("none", df)
    assert res.ok and res.rows == 0
    back = spark.read.parquet(res.path)
    assert back.count() == 0
    assert back.columns == df.columns


def test_per_query_error_isolation_and_summary(spark, outdir):
    spark.read.parquet(os.path.join(SF_SMOKE, "customer.parquet")).createOrReplaceTempView(
        "exp_customer"
    )
    with ParquetExporter(spark, outdir) as ex:
        ok = ex.export_sql("good", "SELECT c_custkey FROM exp_customer")
        bad = ex.export_sql("bad", "SELECT * FROM nonexistent_table_xyz")
        ok2 = ex.export_sql("good2", "SELECT count(*) AS n FROM exp_customer")
    assert ok.ok and ok2.ok and not bad.ok
    assert "nonexistent" in bad.error or "TABLE_OR_VIEW_NOT_FOUND" in bad.error
    summary = spark.read.parquet(os.path.join(outdir, "_export_summary"))
    rows = {r.name: r for r in summary.collect()}
    assert rows["good"].ok and not rows["bad"].ok
    assert rows["good"].successful_exports == 2
    assert rows["good"].total_exports == 3


def test_export_encoded_roundtrip(spark, outdir):
    """export_encoded routes a query result through the REAL engine
    (containers + manifest + lineage under the export dir) and the
    decoded table matches the source exactly — the sink that supersedes
    the reference's Parquet writer."""
    from universal_parquet_exporter_spark.encode.scan import decode_dataset

    df = (
        spark.read.parquet(os.path.join(SF_SMOKE, "customer.parquet"))
        .select(F.col("c_custkey").cast("string").alias("ck"), "c_name", "c_mktsegment")
    )
    with ParquetExporter(spark, outdir) as ex:
        res = ex.export_encoded("customers_enc", df, key_col="ck", target_unit_bytes=1 << 20)
    assert res.ok and res.rows == df.count()
    assert os.path.isdir(os.path.join(res.path, "payload"))
    assert os.path.isdir(os.path.join(res.path, "lineage"))
    back = decode_dataset(spark, res.path)
    assert back.count() == res.rows
    j = df.alias("a").join(back.alias("b"), "ck")
    assert j.where(~F.col("a.c_name").eqNullSafe(F.col("b.c_name"))).count() == 0
    # error isolation holds on the encoded path too
    with ParquetExporter(spark, outdir) as ex:
        bad = ex.export_encoded("boom", df, key_col="no_such_column")
    assert not bad.ok and bad.error


def test_timestamped_directory():
    import datetime

    base = tempfile.mkdtemp()
    try:
        d = create_timestamped_directory(base, "advanced_export", datetime.datetime(2026, 1, 2, 3, 4, 5))
        assert d.endswith("advanced_export_20260102_030405")
        assert os.path.isdir(d)
    finally:
        shutil.rmtree(base, ignore_errors=True)
