"""Table readers over the driver-provided parquet test data (TESTDATA.md)
and Iceberg-style layouts.

The reference reads from MySQL/SQL Server via SQL pass-through
(``/root/reference/src/query/query_executor.py:18-26``); this engine reads
columnar files directly — `spark.read.parquet` here, a one-line swap to
``spark.read.format("iceberg")`` on a real catalog (SURVEY.md §7 Phase 0).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every parquet table under ``sf_dir`` as a DataFrame."""
    out = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load and register temp views so ``spark.sql`` (CTEs etc.) works."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def read_jdbc(
    spark: SparkSession,
    url: str,
    *,
    query: str | None = None,
    table: str | None = None,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    fetchsize: int = 10_000,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Live-DB source: the reference's MySQL/SQL Server read path
    (``/root/reference/src/database/mysql_connection.py:11-18``,
    ``src/query/query_executor.py:18-26`` — SQL pass-through over a
    DB-API connection) as a ``spark.read.format("jdbc")`` reader.

    ``query`` is the pass-through surface (arbitrary SQL executed by the
    remote engine, exactly the reference's ``execute_query``); ``table``
    is the plain table scan.  For scale, pass ``partition_column`` +
    bounds + ``num_partitions`` so executors read disjoint key ranges in
    parallel instead of one connection pulling everything through the
    driver (the reference's ``fetchall`` bottleneck).  Connection-level
    concerns the reference hand-rolls (driver detection, conn-string
    assembly, TLS workarounds — ``sqlserver_connection.py:29-236``) are
    the JDBC driver's job here; pass any extra driver knobs via
    ``options``."""
    if (query is None) == (table is None):
        raise ValueError("exactly one of query= or table= is required")
    if partition_column is not None:
        if query is not None:
            # Spark's JDBC source rejects this pair only when the read runs
            raise ValueError(
                "query= cannot be combined with partition_column= (Spark's "
                "JDBC source partitions table scans only); pass table= "
                "(a table name or a parenthesized subquery with an alias)"
            )
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError("partition_column requires lower_bound, upper_bound and num_partitions")
    reader = spark.read.format("jdbc").option("url", url).option("fetchsize", str(fetchsize))
    reader = reader.option("query", query) if query is not None else reader.option("dbtable", table)
    for k, v in (
        ("user", user),
        ("password", password),
        ("driver", driver),
        ("partitionColumn", partition_column),
        ("lowerBound", lower_bound),
        ("upperBound", upper_bound),
        ("numPartitions", num_partitions),
    ):
        if v is not None:
            reader = reader.option(k, str(v))
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    return reader.load()
