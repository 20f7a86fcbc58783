"""Write-time clustering (``EncodeJobConfig.cluster_by`` — the Iceberg
SortOrder analog): the DataFrame encode path range-repartitions + sorts
the input by the cluster columns before the map-side encode, so chunks
cover narrow cluster-column ranges and zone maps prune on a dimension
OTHER than the key.  Reference behavior being superseded: the exporter
writes tables in arbitrary DB cursor order
(``/root/reference/src/core/parquet_exporter.py``), so any range scan
over its output reads everything."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import _spark_jobs
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages

N_ROWS = 8000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="upes_clus_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mismatches(df, dec):
    j = df.alias("a").join(dec.alias("b"), "url", "full")
    return j.where(
        ~F.col("a.warc_ts").eqNullSafe(F.col("b.warc_ts"))
        | ~F.col("a.text").eqNullSafe(F.col("b.text"))
        | ~F.col("a.lang").eqNullSafe(F.col("b.lang"))
        | ~F.col("a.html").eqNullSafe(F.col("b.html"))
    ).count()


def _chunk_bounds(spark, outdir, col):
    """Per-manifest-row (lo, hi) zone-map bounds for ``col``."""
    rows = (
        spark.read.parquet(outdir + "/data")
        .select(
            F.get_json_object("stats", f"$.{col}[0]").alias("lo"),
            F.get_json_object("stats", f"$.{col}[1]").alias("hi"),
        )
        .collect()
    )
    return [(r.lo, r.hi) for r in rows if r.lo is not None and r.hi is not None]


def test_clustered_roundtrip_bit_identical(spark, webpages, outdir):
    cfg = EncodeJobConfig(
        output_dir=outdir, target_unit_bytes=2 << 20, cluster_by=("warc_ts",)
    )
    metrics = encode_job(spark, webpages, cfg)
    assert metrics["rows"] == N_ROWS
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0


def test_clustered_chunks_cover_narrow_ranges(spark, webpages, outdir):
    """The point of the feature: per-chunk warc_ts spans shrink by an
    order of magnitude vs the unclustered write, so a time-range filter
    can prune.  Measured as the total bounds-overlap fraction: sum of
    per-chunk spans / global span ≈ n_chunks when every chunk covers the
    whole range (interleaved arrival order) and ≈ 1 when chunks tile it
    disjointly (perfect clustering)."""
    plain_dir = tempfile.mkdtemp(prefix="upes_plain_")
    # url-hash arrival order: the realistic ingest where timestamps
    # interleave (warc_ts is monotone in the fixture's row id, so the
    # contiguous-id default would be accidentally pre-clustered)
    src = webpages.repartition(4, "url")
    try:
        for d, cluster in ((plain_dir, ()), (outdir, ("warc_ts",))):
            cfg = EncodeJobConfig(
                output_dir=d,
                target_unit_bytes=1 << 20,
                chunk_rows=1024,
                map_tasks=16,
                cluster_by=cluster,
            )
            encode_job(spark, src, cfg)

        def mean_span_frac(d):
            bounds = [
                (int(lo), int(hi)) for lo, hi in _chunk_bounds(spark, d, "warc_ts")
            ]
            assert bounds
            g_lo = min(b[0] for b in bounds)
            g_hi = max(b[1] for b in bounds)
            span = max(g_hi - g_lo, 1)
            return sum(hi - lo for lo, hi in bounds) / len(bounds) / span

        plain = mean_span_frac(plain_dir)
        clustered = mean_span_frac(outdir)
        # unclustered arrival order interleaves timestamps: the average
        # chunk covers a large slice of the global range
        assert plain > 0.3
        # clustered chunks tile the range instead of each covering it
        assert clustered < plain * 0.2
    finally:
        shutil.rmtree(plain_dir, ignore_errors=True)


def test_clustered_filter_decode_prunes_and_is_exact(spark, webpages, outdir):
    cfg = EncodeJobConfig(
        output_dir=outdir,
        target_unit_bytes=1 << 20,
        chunk_rows=1024,
        map_tasks=16,
        cluster_by=("warc_ts",),
    )
    encode_job(spark, webpages, cfg)
    lo, hi = webpages.agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).collect()[0]
    cut = lo + (hi - lo) / 20  # bottom ~5% of the time range
    ev = {}
    dec = decode_dataset(
        spark, outdir, filters=[("warc_ts", "<=", cut)], pruning_evidence=ev
    )
    expected = webpages.where(F.col("warc_ts") <= F.lit(cut))
    n_exp = expected.count()
    assert dec.count() == n_exp
    assert _mismatches(expected, dec.where(F.col("warc_ts") <= F.lit(cut))) == 0
    # the feature's promise: a narrow time filter skips most chunks
    assert ev["qualifying"] < ev["total"] * 0.5


def test_cluster_by_missing_column_fails_loudly(spark, webpages, outdir):
    """The column check runs before planning: no Spark job, no plan.json."""
    cfg = EncodeJobConfig(output_dir=outdir, cluster_by=("nope",))

    def call():
        with pytest.raises(ValueError, match="cluster_by"):
            encode_job(spark, webpages, cfg)

    assert _spark_jobs(spark, call) == 0
    assert not os.path.exists(os.path.join(outdir, "plan.json"))


def test_cluster_by_categorical_collapses_distinct_sets(spark, webpages, outdir):
    """Clustering on a categorical column collapses per-chunk distinct
    sets toward singletons (a url-hash arrival order interleaves all 12
    languages into every chunk), so ``lang = 'x'`` equality prunes by
    set membership — the interleaved-categorical case min/max bounds can
    never exclude."""
    src = webpages.repartition(4, "url")
    cfg = EncodeJobConfig(
        output_dir=outdir,
        target_unit_bytes=1 << 20,
        chunk_rows=1024,
        map_tasks=16,
        cluster_by=("lang", "warc_ts"),
    )
    encode_job(spark, src, cfg)

    rows = (
        spark.read.parquet(outdir + "/data")
        .select(F.get_json_object("stats", "$._dv.lang").alias("dv"))
        .collect()
    )
    singletons = sum(
        1 for r in rows if r.dv is not None and len(json.loads(r.dv)) == 1
    )
    assert rows and singletons / len(rows) > 0.6
    ev = {}
    dec = decode_dataset(
        spark, outdir, filters=[("lang", "=", "de")], pruning_evidence=ev
    )
    exp = webpages.where(F.col("lang") == "de").count()
    assert dec.count() == exp
    assert ev["qualifying"] < ev["total"] * 0.5


def test_cluster_by_lists_strip_whitespace(spark, monkeypatch, tmp_path):
    """``"lang, n_chars"`` names two columns in both parsers: the
    ``UPES_ENCODE_CLUSTER_BY`` environment variable and the
    ``upe_encoded`` writer's ``cluster_by`` option."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from universal_parquet_exporter_spark.encode.meta import _persist_plan
    from universal_parquet_exporter_spark.plans.partitioning import EncodePlan
    from universal_parquet_exporter_spark.sources import spark_datasource as sds

    out = str(tmp_path)
    monkeypatch.setenv("UPES_ENCODE_OUTPUT_DIR", out)
    monkeypatch.setenv("UPES_ENCODE_CLUSTER_BY", "lang, n_chars")
    assert EncodeJobConfig.from_environment().cluster_by == ("lang", "n_chars")

    _persist_plan(EncodePlan("doc_id", [], [1]), out)
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    writer = sds._EncodedBatchWriter(
        {"path": out, "key_col": "doc_id", "cluster_by": " lang , n_chars"},
        schema,
        overwrite=False,
    )
    assert writer.cluster_cols == ("lang", "n_chars")


def test_cluster_column_named_like_the_unit_key_keeps_unit_major_order():
    """A cluster column literally named ``__unit__`` must not replace the
    internal unit sort key: rows stay unit-major, cluster order within
    each unit."""
    import numpy as np
    import pyarrow as pa

    from universal_parquet_exporter_spark.encode.pipeline import _cluster_order

    units = np.array([2, 0, 1, 0, 2, 1, 0], dtype=np.int64)
    batch = pa.record_batch({"__unit__": pa.array([1, 6, 5, 4, 0, 2, 3])})
    order = _cluster_order(units, batch, ("__unit__",))
    assert units[order].tolist() == [0, 0, 0, 1, 1, 2, 2]
    assert batch.column(0).take(pa.array(order)).to_pylist() == [3, 4, 6, 2, 5, 0, 1]
