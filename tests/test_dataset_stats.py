"""dataset_column_stats: MIN/MAX/null_count/row_count answered from
manifest metadata — the reference's ``MIN/MAX(order_date)`` diagnostic
shape (/root/reference/examples/advanced_integration_example.py:168-169)
without decoding a single payload chunk."""

from datetime import datetime
from decimal import Decimal

import pytest

from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
from universal_parquet_exporter_spark.encode.stats import dataset_column_stats, ts_value_us


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "enc")


def _df(spark, n=600):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.col("id").cast("long").alias("n"),
        (F.col("id").cast("double") / 4.0).alias("score"),
        F.when(F.col("id") < n // 2, F.lit(None))
        .otherwise(F.col("id").cast("long"))
        .alias("opt"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("ts"),
        F.col("id").cast("decimal(12,2)").alias("price"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )


def _encode(spark, df, outdir):
    encode_job(
        spark,
        df,
        EncodeJobConfig(
            output_dir=outdir, key_col="k", size_cols=("text",),
            target_unit_bytes=8 << 10, chunk_rows=64,
        ),
    )


def test_stats_match_full_scan_and_are_exact(spark, outdir):
    df = _df(spark)
    _encode(spark, df, outdir)
    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}

    assert int(st["n"].min) == 0 and int(st["n"].max) == 599
    assert st["n"].min_exact and st["n"].max_exact
    assert st["n"].null_count == 0 and st["n"].row_count == 600

    assert float(st["score"].min) == 0.0 and float(st["score"].max) == 599 / 4.0
    assert st["opt"].null_count == 300
    assert int(st["opt"].min) == 300 and st["opt"].min_exact

    # timestamps render in the zone-map domain: epoch-µs ints
    assert int(st["ts"].min) == ts_value_us(datetime(2024, 3, 1, 0, 0, 0))
    # decimals render as exact strings
    assert Decimal(st["price"].max) == Decimal("599.00")

    # key strings are short: exact lexicographic bounds
    assert st["k"].min == "000000" and st["k"].max == "000599"
    assert st["k"].min_exact and st["k"].max_exact


def test_stats_never_decode_payload(spark, outdir, monkeypatch):
    """The structural claim: stats come from the manifest plus header
    probes — deserialize_chunk (payload decode) must never run."""
    df = _df(spark, n=300)
    _encode(spark, df, outdir)

    from universal_parquet_exporter_spark.encode import container, scan

    def boom(*a, **k):  # pragma: no cover - the assert IS the test
        raise AssertionError("dataset_column_stats decoded a payload chunk")

    # every module binding the payload decoder
    for mod in (container, scan):
        monkeypatch.setattr(mod, "deserialize_chunk", boom)
    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    assert int(st["n"].max) == 299 and st["n"].row_count == 300


def test_long_strings_surface_as_inexact_not_wrong(spark, outdir):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.concat(F.lit("x" * 100), F.col("id").cast("string")).alias("body"),
    )
    _encode(spark, df, outdir)
    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    # long-string columns record no bounds: inexact, not fabricated
    assert not st["body"].min_exact and not st["body"].max_exact
    assert st["body"].min is None and st["body"].max is None
    assert st["body"].null_count == 0 and st["body"].row_count == 200


def test_stats_column_validation(spark, outdir):
    df = _df(spark, n=100)
    _encode(spark, df, outdir)
    with pytest.raises(ValueError, match="columns not in dataset"):
        dataset_column_stats(spark, outdir, columns=["nope"])
    twice = dataset_column_stats(spark, outdir, columns=["n", "n"]).collect()
    assert len(twice) == 2 and twice[0] == twice[1] and twice[0].max_exact


def test_dotted_column_stats_are_exact(spark, outdir):
    """A dotted column name is a plain key of the chunk's zone-map
    dict, so its stats are as exact as any other column's.  Dotted
    columns reach datasets through the upe_encoded sink (pure Arrow);
    the DataFrame encode path rejects them loudly (mapInArrow
    limitation)."""
    from pyspark.sql import functions as F

    from universal_parquet_exporter_spark.encode.pipeline import encode_job, load_or_build_plan
    from universal_parquet_exporter_spark.sources import spark_datasource as sds

    sds.register(spark)
    df = spark.range(200).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.lit("de").alias("meta.lang"),
        F.col("id").cast("long").alias("n"),
    )
    cfg = EncodeJobConfig(output_dir=outdir, key_col="k", size_cols=("meta.lang",))
    with pytest.raises(ValueError, match="mapInArrow limitation"):
        encode_job(spark, df, cfg)
    load_or_build_plan(df, cfg)
    df.write.format("upe_encoded").option("key_col", "k").mode("append").save(outdir)
    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    d = st["meta.lang"]
    assert d.min == "de" and d.max == "de"
    assert d.min_exact and d.max_exact
    assert d.null_count == 0 and d.row_count == 200
    # plain columns beside it stay exact
    assert int(st["n"].max) == 199 and st["n"].min_exact


def test_partial_chunk_coverage_poisons_exactness(spark, outdir):
    """A chunk whose committed slices cover fewer rows than its recorded
    _n (compaction superseding part of a multi-unit chunk) must flip
    every exactness flag — its whole-chunk statistics describe dead
    rows too."""
    import os as _os
    from collections import Counter

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from universal_parquet_exporter_spark.encode.meta import manifest_dir

    df = _df(spark)
    # tiny units + large chunks => chunks spanning several unit-slices
    encode_job(
        spark,
        df,
        EncodeJobConfig(
            output_dir=outdir, key_col="k", size_cols=("text",),
            target_unit_bytes=512, chunk_rows=256,
        ),
    )
    base = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    assert base["n"].min_exact and base["n"].null_count == 0

    # surgically drop one slice of a multi-slice chunk from the manifest
    # (the state shape compaction leaves a shared multi-unit chunk in).
    # Manifest files are immutable — every commit or rewrite lands under
    # a fresh name, which is what the planner's manifest cache keys on —
    # so the trimmed file replaces the original under a new name too
    mdir = manifest_dir(outdir)
    dropped = False
    for f in sorted(_os.listdir(mdir)):
        p = _os.path.join(mdir, f)
        if f.startswith("."):  # stale Hadoop checksums reject rewrites
            _os.unlink(p)
            continue
        if not f.endswith(".parquet") or dropped:
            continue
        t = _pq.read_table(p)
        keys = list(zip(t.column("file").to_pylist(), t.column("offset").to_pylist()))
        victim = next((k for k, n in Counter(keys).items() if n >= 2), None)
        if victim is None:
            continue
        drop_idx = keys.index(victim)
        keep = [i for i in range(t.num_rows) if i != drop_idx]
        _pq.write_table(t.take(_pa.array(keep)), _os.path.join(mdir, "trimmed-" + f))
        _os.unlink(p)
        dropped = True
    assert dropped, "no multi-slice chunk in the fixture"
    for f in list(_os.listdir(mdir)):
        if f.startswith("."):
            _os.unlink(_os.path.join(mdir, f))

    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    assert not st["n"].min_exact and not st["n"].max_exact
    assert st["n"].null_count is None
    assert st["n"].row_count < base["n"].row_count


def test_float_max_is_inexact_while_nan_hides(spark, outdir):
    """A float zone map skips NaN (``pc.min_max`` ignores it) while
    Spark sorts NaN above every number: the recorded max is not the
    column's MAX, so a float max is never reported as exact.  The min
    stays exact, and the reported max stays the largest number."""
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.when(F.col("id") == 7, F.lit(float("nan"))).otherwise(F.col("id").cast("double")).alias("x"),
    )
    _encode(spark, df, outdir)
    st = {r.column: r for r in dataset_column_stats(spark, outdir).collect()}
    spark_max = df.agg(F.max("x")).first()[0]
    assert spark_max != spark_max  # NaN
    assert not st["x"].max_exact and st["x"].max == "19.0"
    assert st["x"].min_exact and float(st["x"].min) == 0.0
