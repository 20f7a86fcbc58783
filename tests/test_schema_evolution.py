"""Additive schema evolution: appends may add or omit columns; decode
resolves the union-by-name schema from meta-only probes, null-padding
the generations that predate a column — and type flips fail loudly, at
write time through the append guard every writer and encode job runs,
and at read time through the union probe."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _spark_jobs
from universal_parquet_exporter_spark.encode import pipeline
from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.meta import (
    _committed_manifest,
    _ddl_type,
    _probe_chunk_schema,
)
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    encode_parquet_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.sources import spark_datasource as sds

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def evolved(spark, tmp_path):
    """Generation 1: (doc_id, text, lang, source, n_chars) for doc_id <
    '25'.  Generation 2: source DROPPED, score ADDED, for doc_id >= '25'.
    Returns (out_dir, old_df, new_df)."""
    out = str(tmp_path / "evo")
    df = _docs(spark)
    old = df.where("doc_id < '25'")
    new = (
        df.where("doc_id >= '25'")
        .drop("source")
        .withColumn("score", F.col("n_chars").cast("double") / 10.0)
    )
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    sds.register(spark)
    old.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    new.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    return out, old, new


def test_decode_unions_generations_with_nulls(spark, evolved):
    out, old, new = evolved
    dec = decode_dataset(spark, out)
    assert set(dec.columns) == {"doc_id", "text", "lang", "source", "n_chars", "score"}
    expected = old.withColumn("score", F.lit(None).cast("double")).unionByName(
        new.withColumn("source", F.lit(None).cast("string"))
    )
    assert _rows(dec.select(*sorted(dec.columns))) == _rows(
        expected.select(*sorted(dec.columns))
    )


def test_decode_pruned_to_added_column(spark, evolved):
    out, old, new = evolved
    dec = decode_dataset(spark, out, columns=["doc_id", "score"])
    assert dec.columns == ["doc_id", "score"]
    assert dec.where("score IS NULL").count() == old.count()
    assert dec.where("score IS NOT NULL").count() == new.count()


def test_scan_of_only_added_columns_null_pads_older_rows(spark, evolved, monkeypatch):
    """Rows of a generation that holds none of the requested columns read
    back as null rows, not as no rows — through both decode branches,
    with and without a filter, and through the reader."""
    from universal_parquet_exporter_spark.encode import scan

    out, old, new = evolved
    n_old, n_new = old.count(), new.count()
    r = spark.read.format("upe_encoded").option("columns", "score").load(out)
    assert r.where("score IS NULL").count() == n_old
    for limit in (0, 1 << 40):  # the Spark branch, then the driver branch
        monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", limit)
        assert decode_dataset(spark, out, columns=["score"]).count() == n_old + n_new
        dec = decode_dataset(spark, out, columns=["score"], filters=[("score", "is_null", None)])
        assert dec.count() == n_old


def test_datasource_reads_union_and_filters_on_added_column(spark, evolved):
    out, old, new = evolved
    r = spark.read.format("upe_encoded").load(out)
    assert set(r.columns) == {"doc_id", "text", "lang", "source", "n_chars", "score"}
    got = r.where(F.col("score") >= 20.0).select("doc_id", "score")
    exp = new.where(F.col("score") >= 20.0).select("doc_id", "score")
    assert _rows(got) == _rows(exp)


def test_zone_map_filter_on_added_column_is_exact(spark, evolved):
    out, old, new = evolved
    dec = decode_dataset(spark, out, filters=[("score", ">=", 20.0)])
    exp = new.where(F.col("score") >= 20.0)
    assert dec.count() == exp.count()


def test_writer_rejects_type_flip(spark, evolved):
    out, _old, _new = evolved
    bad = _docs(spark).limit(3).withColumn("n_chars", F.col("n_chars").cast("string"))
    with pytest.raises(Exception, match="type conflict"):
        bad.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)


def test_encode_jobs_reject_a_type_flip_before_any_spark_job(spark, tmp_path):
    """Both encode jobs run the append-schema guard before they plan: a
    type flip on a committed column raises with no Spark job run and
    nothing committed, so the dataset still decodes its old rows."""
    out = str(tmp_path / "jobs")
    df = _docs(spark).limit(20)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",), skip_completed=False)
    encode_job(spark, df, cfg)
    flipped = df.withColumn("n_chars", F.col("n_chars").cast("string"))
    src = str(tmp_path / "flipped")
    flipped.write.parquet(src)

    def rejected(run):
        with pytest.raises(ValueError, match="type conflict appending column 'n_chars'"):
            run()

    assert _spark_jobs(spark, lambda: rejected(lambda: encode_job(spark, flipped, cfg))) == 0
    assert _spark_jobs(spark, lambda: rejected(lambda: encode_parquet_job(spark, src, cfg))) == 0
    assert _rows(decode_dataset(spark, out)) == _rows(df)


def test_decode_fails_loudly_on_conflicting_generations(spark, tmp_path, monkeypatch):
    """A type flip written past the append guard (as by a writer that
    predates it) must make the union probe refuse to decode rather than
    silently cast."""
    out = str(tmp_path / "conflict")
    df = _docs(spark).limit(20)
    encode_job(
        spark,
        df,
        EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)),
    )
    flipped = df.withColumn("n_chars", F.col("n_chars").cast("double"))
    monkeypatch.setattr(pipeline, "_check_append_schema", lambda *_args: None)
    encode_job(
        spark,
        flipped,
        EncodeJobConfig(
            output_dir=out, key_col="doc_id", size_cols=("text",), skip_completed=False
        ),
    )
    # same column-name set -> the union probe sees one generation; the
    # conflict surfaces in the decode task's per-chunk type check
    with pytest.raises(Exception, match="schema conflict"):
        decode_dataset(spark, out).collect()


def test_timestamp_ntz_appends_match_an_ntz_dataset(spark, tmp_path):
    """A dataset encoded from TIMESTAMP_NTZ stores naive timestamps: an
    NTZ append is the same type and compacts with the first generation;
    a TIMESTAMP (zone-aware) append is a type flip, rejected up front.
    Compaction rewrites the stored types, not Spark's read types, so an
    NTZ append after it is still the same type."""
    out = str(tmp_path / "ntz")
    df = _docs(spark).withColumn("ts", F.timestamp_seconds("n_chars").cast("timestamp_ntz"))
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    sds.register(spark)

    def append_half(half):
        part = df.where(F.crc32("doc_id") % 2 == half)
        part.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)

    for half in (0, 1):  # every unit gets a slice from each append
        append_half(half)

    def read_back():
        got = spark.read.format("upe_encoded").load(out)
        return _rows(got.withColumn("ts", F.col("ts").cast("timestamp_ntz")).select(*df.columns))

    assert read_back() == _rows(df)
    aware = _docs(spark).limit(3).withColumn("ts", F.timestamp_seconds("n_chars"))
    with pytest.raises(Exception, match="type conflict appending column 'ts'"):
        aware.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    rep = compact(spark, out)
    assert rep["units_compacted"] > 0
    assert read_back() == _rows(df)
    append_half(0)
    probe = _probe_chunk_schema(out, _committed_manifest(out))
    assert _ddl_type(probe.field("ts").type, ntz=True) == "timestamp_ntz"
