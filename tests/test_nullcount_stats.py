"""Null-count zone maps: per-chunk ``_n``/``_nc`` stats and IS NULL /
IS NOT NULL pruning (the parquet null-count analog, round-5 surface).

Min/max bounds say nothing about nulls; the recorded counts prune
``is_null`` when a chunk has none, ``not_null`` when it is all-null —
and, because comparison/equality terms are null-rejecting, all-null
chunks prune for those too, which makes chunks from generations that
PREDATE a column under additive schema evolution prune for free on any
filter over that column.
"""

import json
import os

import pyarrow as pa
import pytest

from universal_parquet_exporter_spark.encode.meta import manifest_dir
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.encode.stats import _chunk_stats


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "enc")


def _null_half_df(spark, n=600):
    """Keys zero-padded (clustered); ``opt`` is NULL on the first half of
    the key range — whole chunks are all-null — and ``mixed`` alternates
    null/value within every chunk (no chunk prunes on it)."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.when(F.col("id") < n // 2, F.lit(None))
        .otherwise(F.concat(F.lit("v"), F.col("id").cast("string")))
        .alias("opt"),
        F.when(F.col("id") % 2 == 0, F.lit(None))
        .otherwise(F.col("id").cast("double"))
        .alias("mixed"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )


def _encode(spark, df, outdir):
    cfg = EncodeJobConfig(
        output_dir=outdir, key_col="k", size_cols=("text",),
        target_unit_bytes=8 << 10, chunk_rows=64,
    )
    encode_job(spark, df, cfg)


# ---------------------------------------------------------------------------
# stats emission
# ---------------------------------------------------------------------------


def test_chunk_stats_records_null_counts():
    t = pa.table(
        {
            "a": pa.array([1, None, 3, None]),
            "b": pa.array(["x", "y", "z", "w"]),
            "allnull": pa.array([None] * 4, pa.string()),
            "bin": pa.array([b"1", None, b"3", b"4"], pa.binary()),
        }
    )
    s = json.loads(_chunk_stats(t))
    assert s["_n"] == 4
    # every column gets a count — zeros included, and type-agnostic
    # (binary columns record no bounds but do record counts)
    assert s["_nc"] == {"a": 2, "b": 0, "allnull": 4, "bin": 1}
    assert "allnull" not in s and "bin" not in s  # bounds unchanged


def test_chunk_stats_nc_reserved_name_guard():
    # a REAL column named _nc (or _n) suppresses both reserved keys —
    # readers can never misparse bounds as count maps
    t = pa.table({"_nc": pa.array([1, 2]), "c": pa.array(["a", None])})
    s = json.loads(_chunk_stats(t))
    assert "_n" not in s and s["_nc"] == [1, 2]
    t2 = pa.table({"_n": pa.array([1, 2]), "c": pa.array(["a", None])})
    s2 = json.loads(_chunk_stats(t2))
    assert "_nc" not in s2 and s2["_n"] == [1, 2]


# ---------------------------------------------------------------------------
# decode_dataset pruning + exactness
# ---------------------------------------------------------------------------


def _qualifying(spark, outdir, survives_col):
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(manifest_dir(outdir))
        .agg(
            F.count("*").alias("total"),
            F.sum(survives_col.cast("long")).alias("q"),
        )
        .collect()[0]
    )
    return int(row.q), int(row.total)


def test_not_null_prunes_all_null_chunks(spark, outdir):
    from pyspark.sql import functions as F

    df = _null_half_df(spark)
    _encode(spark, df, outdir)
    nc = F.get_json_object(F.col("stats"), "$._nc.opt").cast("long")
    n = F.get_json_object(F.col("stats"), "$._n").cast("long")
    q, total = _qualifying(spark, outdir, nc.isNotNull() & (nc < n))
    assert 0 < q < total, f"expected partial pruning, got {q}/{total}"

    got = decode_dataset(spark, outdir, filters=[("opt", "not_null", None)])
    assert got.count() == df.where("opt IS NOT NULL").count() > 0
    # mixed chunks survive pruning and re-filter exactly
    got_m = decode_dataset(spark, outdir, filters=[("mixed", "not_null", None)])
    assert got_m.count() == df.where("mixed IS NOT NULL").count()


def test_is_null_prunes_fully_populated_chunks(spark, outdir):
    df = _null_half_df(spark)
    _encode(spark, df, outdir)
    got = decode_dataset(spark, outdir, filters=[("opt", "is_null", None)])
    assert got.count() == df.where("opt IS NULL").count() > 0
    # value rows all sit in the non-null half: sanity on content
    vals = decode_dataset(spark, outdir, filters=[("opt", "not_null", None)])
    assert sorted(r.opt for r in vals.select("opt").collect())[0].startswith("v")


def test_comparison_terms_prune_all_null_chunks(spark, outdir):
    """Equality on `opt` is null-rejecting: the all-null first-half
    chunks must be disqualified even though they record no bounds for
    the column (all-null columns never did)."""
    from pyspark.sql import functions as F

    df = _null_half_df(spark)
    _encode(spark, df, outdir)
    got = decode_dataset(spark, outdir, filters=[("opt", "=", "v450")])
    assert [r.k for r in got.collect()] == ["000450"]
    # evidence: the pruned manifest for '= v450' excludes every all-null
    # chunk — expressed as one aggregation (no manifest collect)
    nc = F.get_json_object(F.col("stats"), "$._nc.opt").cast("long")
    n = F.get_json_object(F.col("stats"), "$._n").cast("long")
    q, total = _qualifying(spark, outdir, nc.isNotNull() & (nc == n))
    assert q > 0 and total > q  # some chunks are genuinely all-null


def test_evolution_chunks_prune_on_new_column(spark, outdir):
    """Generation-1 chunks predate `extra`; their _nc lacks the key, so
    a filter on `extra` (not_null OR equality) skips their payload."""
    from pyspark.sql import functions as F

    from universal_parquet_exporter_spark.sources import spark_datasource as sds

    sds.register(spark)
    g1 = spark.range(300).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    g2 = spark.range(300, 400).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("extra"),
    )
    from universal_parquet_exporter_spark.encode.pipeline import load_or_build_plan

    load_or_build_plan(
        g1.unionByName(g2, allowMissingColumns=True),
        EncodeJobConfig(output_dir=outdir, key_col="k", size_cols=("text",)),
    )
    g1.write.format("upe_encoded").option("key_col", "k").mode("append").save(outdir)
    g2.write.format("upe_encoded").option("key_col", "k").mode("append").save(outdir)

    got = decode_dataset(spark, outdir, filters=[("extra", "not_null", None)])
    assert got.count() == 100
    got_eq = decode_dataset(spark, outdir, filters=[("extra", "=", "x350")])
    assert [r.k for r in got_eq.collect()] == ["000350"]
    # the union decode still returns 400 rows with nulls padded
    assert decode_dataset(spark, outdir).count() == 400


def test_pre_nullcount_datasets_never_prune_on_nulls(spark, outdir):
    """Stats without _nc (pre-feature data) keep every chunk for null
    ops and never prune comparisons on the counts — simulate by
    stripping _n/_nc from the manifest stats in place."""
    import pyarrow.parquet as pq

    df = _null_half_df(spark)
    _encode(spark, df, outdir)
    mdir = manifest_dir(outdir)
    for f in os.listdir(mdir):
        if f.startswith("."):  # stale Hadoop checksums reject the rewrite
            os.unlink(os.path.join(mdir, f))
            continue
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(mdir, f)
        t = pq.read_table(p)
        stripped = []
        for s in t.column("stats").to_pylist():
            d = json.loads(s)
            d.pop("_n", None), d.pop("_nc", None)
            stripped.append(json.dumps(d, separators=(",", ":")))
        idx = t.schema.get_field_index("stats")
        t = t.set_column(idx, "stats", pa.array(stripped, pa.string()))
        pq.write_table(t, p)

    got = decode_dataset(spark, outdir, filters=[("opt", "not_null", None)])
    assert got.count() == df.where("opt IS NOT NULL").count()
    got_n = decode_dataset(spark, outdir, filters=[("opt", "is_null", None)])
    assert got_n.count() == df.where("opt IS NULL").count()


# ---------------------------------------------------------------------------
# is_null / not_null pruning, and the DataSource reader's null filters
# ---------------------------------------------------------------------------


def test_datasource_null_pushdown_prunes(spark, outdir):
    from tests.conftest import _kept_chunks
    from universal_parquet_exporter_spark.sources import spark_datasource as sds

    df = _null_half_df(spark)
    _encode(spark, df, outdir)
    sds.register(spark)

    def kept(terms):
        return len(_kept_chunks(spark, outdir, terms))

    total = kept([])
    n_notnull = kept([("opt", "not_null", None)])
    n_isnull = kept([("opt", "is_null", None)])
    assert 0 < n_notnull < total
    assert 0 < n_isnull < total
    # equality on `opt` prunes the all-null chunks not_null prunes, and
    # the chunks whose values miss it
    n_eq = kept([("opt", "not_null", None), ("opt", "=", "v450")])
    assert n_eq < n_notnull

    got = spark.read.format("upe_encoded").load(outdir).where("opt IS NOT NULL")
    assert got.count() == df.where("opt IS NOT NULL").count()
    got_n = spark.read.format("upe_encoded").load(outdir).where("opt IS NULL")
    assert got_n.count() == df.where("opt IS NULL").count()


def test_dotted_column_filters_never_misprune(spark, outdir):
    """A dotted column name must never read as a missing ``_nc`` entry
    (an all-null verdict would prune every chunk and return 0 rows):
    the planner looks names up in the parsed stats, and the exact
    residual resolves the dotted name as one column."""
    from pyspark.sql import functions as F

    from universal_parquet_exporter_spark.encode.pipeline import load_or_build_plan
    from universal_parquet_exporter_spark.sources import spark_datasource as sds

    sds.register(spark)
    n = 300
    df = spark.range(n).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit("de")).otherwise(F.lit("en")).alias("meta.lang"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    load_or_build_plan(
        df, EncodeJobConfig(output_dir=outdir, key_col="k", size_cols=("text",))
    )
    df.write.format("upe_encoded").option("key_col", "k").mode("append").save(outdir)
    got = decode_dataset(spark, outdir, filters=[("meta.lang", "=", "de")])
    assert got.count() == n // 2
    got_nn = decode_dataset(spark, outdir, filters=[("meta.lang", "not_null", None)])
    assert got_nn.count() == n
