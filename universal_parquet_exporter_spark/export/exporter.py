"""Query→Parquet batch exporter — the reference's core workflow
(``/root/reference/examples/advanced_integration_example.py:80-114,156-297``,
``sqlserver_advanced_example.py:122-314``) rebuilt on Spark:

- each export is a (name, DataFrame-or-SQL) pair instead of a SQL string
  shipped to a remote engine (``src/query/query_executor.py:20``);
- per-export error isolation + success accounting (A11);
- timestamped output directories (A12,
  ``examples/advanced_integration_example.py:37-51``);
- a summary record persisted as Parquet at the end (A13, ``:283-297``);
- empty results are exported with their schema (the reference's writer
  raises ``ValueError`` on empty input, ``src/export/parquet_writer.py:10-11``
  — a limitation, not a behavior worth keeping; a schema'd empty Parquet
  file is strictly more useful downstream).

Unlike the reference (single-process pandas materialization,
``src/query/query_executor.py:26``), every export is a distributed
write — nothing flows through the driver.
"""

from __future__ import annotations

import datetime
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def create_timestamped_directory(base_dir: str, prefix: str = "export", now: datetime.datetime | None = None) -> str:
    """`{base}/{prefix}_YYYYMMDD_HHMMSS/` (A12)."""
    now = now or datetime.datetime.now()
    path = os.path.join(base_dir, f"{prefix}_{now.strftime('%Y%m%d_%H%M%S')}")
    os.makedirs(path, exist_ok=True)
    return path


@dataclass
class ExportResult:
    name: str
    path: str
    rows: int
    wall_sec: float
    ok: bool
    error: str = ""


@dataclass
class ParquetExporter:
    """Batch exporter with per-query error isolation and a summary table.

    Usage::

        with ParquetExporter(spark, out_dir) as ex:
            ex.export("summary", df)
            ex.export_sql("top", "SELECT ... FROM view")
    """

    spark: SparkSession
    output_dir: str
    compression: str = "snappy"  # the reference's default (pyarrow snappy)
    results: list[ExportResult] = field(default_factory=list)

    def export(self, name: str, df: DataFrame) -> ExportResult:
        """One Spark action per export: the row count rides the write via
        ``df.observe`` instead of a separate ``count()`` (which would
        execute the whole query twice — 2x cost per export at scale)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        path = os.path.join(self.output_dir, name)
        t0 = time.perf_counter()
        try:
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            observed.write.mode("overwrite").option("compression", self.compression).parquet(path)
            rows = int(obs.get["rows"])
            res = ExportResult(name, path, rows, round(time.perf_counter() - t0, 3), True)
        except Exception as e:  # per-query isolation (A11)
            res = ExportResult(name, path, 0, round(time.perf_counter() - t0, 3), False, str(e)[:500])
        self.results.append(res)
        return res

    def export_sql(self, name: str, sql: str) -> ExportResult:
        """SQL-string entry point — the reference's pass-through surface
        (``src/query/query_executor.py:18-26``), executed by Catalyst."""
        try:
            df = self.spark.sql(sql)
        except Exception as e:
            res = ExportResult(name, os.path.join(self.output_dir, name), 0, 0.0, False, str(e)[:500])
            self.results.append(res)
            return res
        return self.export(name, df)

    def export_encoded(self, name: str, df: DataFrame, key_col: str, **cfg_kwargs) -> ExportResult:
        """Export through the ENGINE instead of Parquet/Snappy: the query
        result lands as codec containers + manifest + lineage under
        ``{output_dir}/{name}`` (resumable, decodable via
        :func:`..encode.pipeline.decode_dataset`).  This is the sink that
        supersedes the reference's writer — same workflow surface, the
        engine's storage format.  Extra kwargs flow to
        :class:`..encode.pipeline.EncodeJobConfig` (``size_cols``,
        ``target_unit_bytes``, ``max_buffer_bytes``, ...)."""
        from ..encode.pipeline import EncodeJobConfig, encode_job

        path = os.path.join(self.output_dir, name)
        t0 = time.perf_counter()
        try:
            cfg = EncodeJobConfig(output_dir=path, key_col=key_col, **cfg_kwargs)
            metrics = encode_job(self.spark, df, cfg)
            res = ExportResult(
                name, path, int(metrics["rows"]), round(time.perf_counter() - t0, 3), True
            )
        except Exception as e:  # per-query isolation (A11)
            res = ExportResult(name, path, 0, round(time.perf_counter() - t0, 3), False, str(e)[:500])
        self.results.append(res)
        return res

    def write_summary(self) -> str:
        """Persist the summary record as Parquet (A13)."""
        path = os.path.join(self.output_dir, "_export_summary")
        ok = sum(1 for r in self.results if r.ok)
        rows = [
            (r.name, r.path, r.rows, r.wall_sec, r.ok, r.error, len(self.results), ok)
            for r in self.results
        ]
        df = self.spark.createDataFrame(
            rows,
            "name string, path string, rows long, wall_sec double, ok boolean, "
            "error string, total_exports int, successful_exports int",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return path

    def __enter__(self) -> "ParquetExporter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # A15: lifecycle cleanup — always leave the summary behind
        if self.results:
            self.write_summary()
