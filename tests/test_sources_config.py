"""Unit tests (no Spark session) for the JDBC source shim and the
env-driven encode config — mirrors the reference's mock-based connection
tests (``/root/reference/tests/test_mysql_connection.py:23-62``, kwargs
asserted against a stubbed connector) and its env-config contract
(``config/sqlserver_config.py:53-106``)."""

import os

import pytest

from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig
from universal_parquet_exporter_spark.sources.tables import read_jdbc


class _FakeReader:
    def __init__(self):
        self.fmt = None
        self.opts = {}
        self.loaded = False

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self):
        self.loaded = True
        return self


class _FakeSpark:
    def __init__(self):
        self.read = _FakeReader()


def test_read_jdbc_query_passthrough_options():
    spark = _FakeSpark()
    out = read_jdbc(
        spark,
        "jdbc:mysql://db:3306/test",
        query="SELECT id, name FROM users WHERE age > 25",
        user="test_user",
        password="pw",
        driver="com.mysql.cj.jdbc.Driver",
        options={"zeroDateTimeBehavior": "convertToNull"},
    )
    r = spark.read
    assert out is r and r.loaded
    assert r.fmt == "jdbc"
    assert r.opts["url"] == "jdbc:mysql://db:3306/test"
    assert r.opts["query"] == "SELECT id, name FROM users WHERE age > 25"
    assert r.opts["user"] == "test_user" and r.opts["password"] == "pw"
    assert r.opts["driver"] == "com.mysql.cj.jdbc.Driver"
    assert r.opts["fetchsize"] == "10000"
    assert r.opts["zeroDateTimeBehavior"] == "convertToNull"
    assert "dbtable" not in r.opts


def test_read_jdbc_partitioned_table_scan():
    spark = _FakeSpark()
    read_jdbc(
        spark,
        "jdbc:sqlserver://db;databaseName=x",
        table="orders",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=64,
    )
    r = spark.read
    assert r.opts["dbtable"] == "orders"
    assert r.opts["partitionColumn"] == "id"
    assert r.opts["lowerBound"] == "0"
    assert r.opts["upperBound"] == "1000000"
    assert r.opts["numPartitions"] == "64"


def test_read_jdbc_rejects_bad_args():
    with pytest.raises(ValueError, match="exactly one"):
        read_jdbc(_FakeSpark(), "jdbc:mysql://h/d")
    with pytest.raises(ValueError, match="exactly one"):
        read_jdbc(_FakeSpark(), "jdbc:mysql://h/d", query="SELECT 1", table="t")
    with pytest.raises(ValueError, match="requires"):
        read_jdbc(_FakeSpark(), "jdbc:mysql://h/d", table="t", partition_column="id")


def test_read_jdbc_rejects_query_with_partition_column_up_front():
    """Spark's JDBC source refuses ``query`` with ``partitionColumn`` only
    when the read runs; the shim must refuse it before touching the
    reader (no option set, nothing loaded)."""
    spark = _FakeSpark()
    with pytest.raises(ValueError, match="query= cannot be combined with partition_column="):
        read_jdbc(
            spark,
            "jdbc:mysql://h/d",
            query="SELECT id FROM t",
            partition_column="id",
            lower_bound=0,
            upper_bound=100,
            num_partitions=4,
        )
    assert spark.read.fmt is None and spark.read.opts == {} and not spark.read.loaded
    # the bounds check also fires before any option is set
    spark = _FakeSpark()
    with pytest.raises(ValueError, match="requires"):
        read_jdbc(spark, "jdbc:mysql://h/d", table="t", partition_column="id")
    assert spark.read.opts == {}


def test_encode_config_from_environment(monkeypatch):
    monkeypatch.setenv("UPES_ENCODE_OUTPUT_DIR", "/data/out")
    monkeypatch.setenv("UPES_ENCODE_KEY_COL", "page_url")
    monkeypatch.setenv("UPES_ENCODE_SIZE_COLS", "body,raw")
    monkeypatch.setenv("UPES_ENCODE_TARGET_UNIT_BYTES", str(128 << 20))
    monkeypatch.setenv("UPES_ENCODE_CHUNK_ROWS", "16384")
    monkeypatch.setenv("UPES_ENCODE_MAP_TASKS", "56")
    monkeypatch.setenv("UPES_ENCODE_MAX_BUFFER_BYTES", str(64 << 20))
    cfg = EncodeJobConfig.from_environment()
    assert cfg.output_dir == "/data/out"
    assert cfg.key_col == "page_url"
    assert cfg.size_cols == ("body", "raw")
    assert cfg.target_unit_bytes == 128 << 20
    assert cfg.chunk_rows == 16384
    assert cfg.map_tasks == 56
    assert cfg.max_buffer_bytes == 64 << 20
    assert cfg.run_id  # generated


def test_encode_config_from_environment_defaults_are_the_dataclass_defaults(monkeypatch):
    for var in [v for v in os.environ if v.startswith("UPES_ENCODE_")]:
        monkeypatch.delenv(var)
    monkeypatch.setenv("UPES_ENCODE_OUTPUT_DIR", "/data/out")
    cfg = EncodeJobConfig.from_environment()
    assert cfg == EncodeJobConfig(output_dir="/data/out", run_id=cfg.run_id)


def test_encode_config_from_environment_missing(monkeypatch):
    monkeypatch.delenv("UPES_ENCODE_OUTPUT_DIR", raising=False)
    with pytest.raises(ValueError, match="UPES_ENCODE_OUTPUT_DIR"):
        EncodeJobConfig.from_environment()
