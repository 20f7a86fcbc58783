"""The ``upe_encoded`` Spark Python DataSource: read parity with Spark
filtering the rows, the scan planner's pruning of the same terms (with
pruning EVIDENCE, not just unchanged answers), column pruning, the write
commit protocol (append / atomic overwrite / abort), and the streaming
sink's replayed-epoch idempotency."""

import glob
import os
import shutil
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _kept_chunks
from universal_parquet_exporter_spark.encode import meta
from universal_parquet_exporter_spark.encode.meta import manifest_dir
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import _chunk_keep, _pruning_groups, decode_dataset
from universal_parquet_exporter_spark.sources import spark_datasource as sds

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


@pytest.fixture(scope="module")
def dataset(spark, tmp_path_factory):
    """One encoded documents dataset shared by the read tests: several
    units (small target bytes) and several chunks (small chunk_rows)."""
    out = str(tmp_path_factory.mktemp("ds_read"))
    cfg = EncodeJobConfig(
        output_dir=out,
        key_col="doc_id",
        size_cols=("text",),
        target_unit_bytes=64 << 10,
        chunk_rows=64,
    )
    encode_job(spark, _docs(spark), cfg)
    sds.register(spark)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def test_read_full_scan_matches_source(spark, dataset):
    got = spark.read.format("upe_encoded").load(dataset)
    exp = _docs(spark)
    assert got.columns == exp.columns
    assert _rows(got) == _rows(exp)


def test_read_column_pruning_option(spark, dataset):
    got = spark.read.format("upe_encoded").option("columns", "doc_id,lang").load(dataset)
    assert got.columns == ["doc_id", "lang"]
    assert _rows(got) == _rows(_docs(spark).select("doc_id", "lang"))


def test_read_filtered_values_exact(spark, dataset):
    pred = (F.col("doc_id") >= "10") & (F.col("doc_id") <= "24") & (F.col("n_chars") > 100)
    got = spark.read.format("upe_encoded").load(dataset).where(pred)
    exp = _docs(spark).where(pred)
    assert _rows(got) == _rows(exp)


def test_one_reader_frame_serves_a_pushed_then_an_or_filter(spark, dataset):
    """One ``upe_encoded`` DataFrame queried first with a pushable filter,
    then with a disjunction, which Spark pushes nothing of.  A reader
    that pruned by the first query's terms in the second would drop the
    rows outside the prefix that the OR keeps."""
    df = spark.read.format("upe_encoded").load(dataset)
    first = F.col("doc_id").startswith("12")
    second = (F.col("lang") == "de") | (F.col("doc_id") < "2")
    for pred in (first, second):
        assert _rows(df.where(pred)) == _rows(_docs(spark).where(pred))
    assert len(_rows(df.where(second))) > len(_rows(df.where(first)))


def test_read_works_with_pushdown_conf_off(spark, dataset):
    """The reader takes no pushed filters, so a filtered read returns the
    source's rows with Python filter pushdown on and off."""
    conf = "spark.sql.python.filterPushdown.enabled"
    want = _rows(_docs(spark).where("doc_id >= '45'"))
    try:
        for enabled in ("true", "false"):
            spark.conf.set(conf, enabled)
            got = spark.read.format("upe_encoded").load(dataset).where("doc_id >= '45'")
            assert _rows(got) == want, enabled
    finally:
        spark.conf.unset(conf)


def test_pushdown_prunes_chunks(spark, dataset):
    """Pruning EVIDENCE: a selective key predicate plans strictly fewer
    chunks than the full scan (key-range unit pruning + zone maps), and
    an impossible predicate plans zero."""
    full = _kept_chunks(spark, dataset, [])
    narrow = _kept_chunks(spark, dataset, [("doc_id", ">=", "10"), ("doc_id", "<=", "11")])
    nothing = _kept_chunks(spark, dataset, [("doc_id", ">=", "\x7f\x7f")])
    assert len(full) > 0
    assert 0 < len(narrow) < len(full)
    assert len(nothing) == 0


def test_pushdown_zone_map_on_non_key_column(spark, dataset):
    """n_chars is stats-covered but not the key: its bounds prune chunks
    without any unit-range help."""
    full = _kept_chunks(spark, dataset, [])
    hi = _kept_chunks(spark, dataset, [("n_chars", ">=", 10**9)])
    assert len(hi) < len(full)


def test_pushdown_in_list_on_key(spark, dataset):
    """IN-lists on the key prune to the union of point ranges, and the
    answer stays exact under Spark's residual."""
    full = _kept_chunks(spark, dataset, [])
    planned = _kept_chunks(spark, dataset, [("doc_id", "in", ("10", "11"))])
    assert 0 < len(planned) < len(full)
    got = (
        spark.read.format("upe_encoded")
        .load(dataset)
        .where(F.col("doc_id").isin("10", "11"))
        .select("doc_id")
    )
    assert _rows(got) == _rows(
        _docs(spark).where(F.col("doc_id").isin("10", "11")).select("doc_id")
    )


def test_pushdown_startswith_and_equality_terms(spark, dataset):
    got = _kept_chunks(spark, dataset, [("doc_id", "startswith", "1")])
    assert 0 < len(got) <= len(_kept_chunks(spark, dataset, []))
    eq = _kept_chunks(spark, dataset, [("doc_id", "=", "10")])
    assert 0 < len(eq) <= len(got)


def test_chunk_keep_algebra(spark):
    """Unit coverage of the conservative zone-map verdicts."""
    schema = pa.schema([
        ("n", pa.int64()), ("s", pa.string()), ("x", pa.float64()), ("absent", pa.int64()),
        ("p", pa.decimal128(38, 4)),
    ])
    stats = '{"n": [10, 20], "s": ["b", "m"]}'

    def keep(stats_json, terms):
        groups = _pruning_groups(spark, [terms], schema)
        return bool(_chunk_keep(pa.array([stats_json], pa.string()), groups, schema)[0])

    assert keep(stats, [("n", ">=", 20)])
    assert not keep(stats, [("n", ">", 20)])
    assert not keep(stats, [("n", "<", 10)])
    assert keep(stats, [("n", "<=", 10)])
    assert keep(stats, [("n", "=", 15)])
    assert not keep(stats, [("n", "=", 9)])
    assert keep(stats, [("n", "in", (1, 12))])
    assert not keep(stats, [("n", "in", (1, 2))])
    assert keep(stats, [("s", "startswith", "m")])
    assert not keep(stats, [("s", "startswith", "n")])
    assert keep(stats, [("absent", "=", 1)])  # no bounds -> keep
    assert keep(None, [("n", "=", 1)])  # legacy chunk, no stats
    assert keep("{not json", [("n", "=", 1)])  # garbled stats keep
    assert keep('{"s": ["b", null]}', [("s", ">=", "zzz")])  # open max
    assert not keep('{"s": ["b", null]}', [("s", "<", "b")])

    # a float max skips NaN, which Spark sorts above every number
    assert keep('{"x": [0.0, 5.0]}', [("x", ">", 7.0)])
    assert keep('{"x": [0.0, 5.0]}', [("x", ">=", 7.0)])
    assert not keep('{"x": [0.0, 5.0]}', [("x", "=", 7.0)])
    assert not keep('{"x": [0.0, 5.0]}', [("x", "<", 0.0)])

    # a decimal compares exactly with a value finer than its scale
    dec = '{"p": ["1.2500", "2.0000"]}'
    assert not keep(dec, [("p", ">=", Decimal("2.00001"))])
    assert not keep(dec, [("p", "<", Decimal("1.24999"))])
    assert keep(dec, [("p", "<", Decimal("1.25001"))])

    # null counts: an absent or all-null column prunes every
    # null-rejecting term, and is_null prunes a column without nulls
    nc = '{"n": [1, 3], "_n": 10, "_nc": {"n": 0, "x": 10}}'
    for col in ("x", "s"):  # all-null, absent from _nc
        for term in [(col, "not_null", None), (col, "=", "b"), (col, "!=", "b"), (col, "<", 1.0),
                     (col, "in", ("b",)), (col, "startswith", "b"), (col, "contains", "b")]:
            assert not keep(nc, [term]), term
        assert keep(nc, [(col, "is_null", None)])
    assert not keep(nc, [("n", "is_null", None)])
    assert keep(nc, [("n", "not_null", None)])
    assert keep('{"n": [1, 3]}', [("n", "is_null", None)])  # no counts recorded

    # != and not_in prune through the exact distinct-value sets
    dv = '{"n": [1, 3], "s": ["a", "b"], "_dv": {"n": [1, 3], "s": ["a", "b"]}}'
    assert not keep('{"n": [1, 1], "_dv": {"n": [1]}}', [("n", "!=", 1)])
    assert keep(dv, [("n", "!=", 1)])
    assert not keep(dv, [("n", "not_in", (1, 3, 5))])
    assert keep(dv, [("n", "not_in", (1, 5))])
    assert not keep(dv, [("n", "=", 2)])  # inside the bounds, not in the set
    assert not keep(dv, [("s", "endswith", "z")])
    assert keep(dv, [("s", "contains", "b")])

    # a value of the wrong type keeps the chunk, filtered or recorded
    assert keep(stats, [("n", "=", "15x")])
    assert keep(stats, [("s", "<", 3)])
    assert keep('{"n": ["a", "b"]}', [("n", "=", 99)])
    assert keep('{"n": [1, 3], "_dv": {"n": [1, "z"]}}', [("n", "=", 2)])

    # groups: a chunk is pruned only when every group disqualifies it
    groups = _pruning_groups(spark, [[("n", "<", 5)], [("s", "=", "c")]], schema)
    got = _chunk_keep(pa.array([stats, '{"n": [1, 3]}', '{"n": [30, 40], "s": ["x", "z"]}']), groups, schema)
    assert got.tolist() == [True, True, False]
    # a garbled map keeps its own chunk only; the others keep their verdicts
    many = pa.array([stats, "{not json", '{"n": [30, 40]}', "{} {}", '{"n": ["a", "b"]}', '{"n": [1, 2]}'])
    got = _chunk_keep(many, _pruning_groups(spark, [[("n", "<", 5)]], schema), schema)
    assert got.tolist() == [False, True, False, True, True, True]


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def test_write_requires_plan(spark, tmp_path):
    sds.register(spark)
    df = _docs(spark).limit(5)
    with pytest.raises(Exception, match="plan.json"):
        df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(
            str(tmp_path / "noplan")
        )


def test_write_key_col_mismatch(spark, tmp_path):
    sds.register(spark)
    out = str(tmp_path / "wkey")
    load_or_build_plan(_docs(spark), EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    with pytest.raises(Exception, match="plan partitions on"):
        _docs(spark).write.format("upe_encoded").option("key_col", "lang").mode("append").save(out)


def test_write_key_col_defaults_to_the_plan(spark, tmp_path):
    """The key column comes from ``plan.json``: an append to a
    ``doc_id``-keyed dataset needs no ``key_col`` option, and the one
    it would take in an ``overwrite`` too."""
    sds.register(spark)
    out = str(tmp_path / "wkeydefault")
    df = _docs(spark)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").mode("append").save(out)
    assert _rows(spark.read.format("upe_encoded").load(out)) == _rows(df)
    df.limit(5).write.format("upe_encoded").mode("overwrite").save(out)
    assert spark.read.format("upe_encoded").load(out).count() == 5


def test_write_append_roundtrip(spark, tmp_path):
    sds.register(spark)
    out = str(tmp_path / "wappend")
    df = _docs(spark)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    assert _rows(spark.read.format("upe_encoded").load(out)) == _rows(df)
    # append again: rows accumulate (writer never skips units)
    extra = df.limit(7).withColumn("doc_id", F.concat(F.lit("zz_"), F.col("doc_id")))
    extra.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    both = spark.read.format("upe_encoded").load(out)
    assert both.count() == df.count() + 7
    # the function-API decode sees DataSource-committed rows identically
    assert _rows(decode_dataset(spark, out)) == _rows(both)


def test_write_overwrite_is_versioned_pointer_swap(spark, tmp_path):
    sds.register(spark)
    out = str(tmp_path / "wover")
    df = _docs(spark)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    first = manifest_dir(out)

    sub = df.limit(20)
    sub.write.format("upe_encoded").option("key_col", "doc_id").mode("overwrite").save(out)
    assert manifest_dir(out).endswith("data_v1")
    assert _rows(spark.read.format("upe_encoded").load(out)) == _rows(sub)
    # superseded manifest still on disk (vacuum's horizon owns deletion)
    assert os.path.isdir(first)

    sub2 = df.limit(3)
    sub2.write.format("upe_encoded").option("key_col", "doc_id").mode("overwrite").save(out)
    assert manifest_dir(out).endswith("data_v2")
    assert spark.read.format("upe_encoded").load(out).count() == 3


def test_writer_abort_drops_payload(spark, tmp_path):
    """Abort's contract: the failed attempt's payload files are removed
    (anything missed would be vacuum-fodder, but the fast path cleans)."""
    sds.register(spark)
    out = str(tmp_path / "wabort")
    df = _docs(spark)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)

    payload_dir = os.path.join(out, "payload")
    fake = os.path.join(payload_dir, "frag-aborted-test.bin")
    with open(fake, "wb") as f:
        f.write(b"dead")
    from pyspark.sql.types import StructType

    writer = sds._EncodedBatchWriter(
        {"path": out, "key_col": "doc_id"},
        StructType.fromDDL("doc_id string, text string"),
        overwrite=False,
    )
    writer.abort([sds._FragMessage([{"file": "frag-aborted-test.bin"}]), None])
    assert not os.path.exists(fake)
    # committed data untouched
    assert spark.read.format("upe_encoded").load(out).count() == df.count()


def test_next_manifest_name_skips_crashed_versions(tmp_path):
    out = str(tmp_path / "vers")
    os.makedirs(os.path.join(out, "data"))
    os.makedirs(os.path.join(out, "data_v3"))  # crashed overwrite leftover
    assert sds._next_manifest_name(out) == "data_v4"


# ---------------------------------------------------------------------------
# streaming sink
# ---------------------------------------------------------------------------


def test_stream_sink_end_to_end_and_tags(spark, tmp_path):
    sds.register(spark)
    out = str(tmp_path / "ss_out")
    ck = str(tmp_path / "ss_ck")
    src = str(tmp_path / "ss_src")
    os.makedirs(src)
    df = _docs(spark)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))

    for i, pred in enumerate(("doc_id < '25'", "doc_id >= '25'")):
        stage = str(tmp_path / f"ss_stage{i}")
        df.where(pred).coalesce(1).write.parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            shutil.copy(f, os.path.join(src, f"{i}-{os.path.basename(f)}"))

    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("upe_encoded")
        .option("key_col", "doc_id")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(180)
    assert _rows(spark.read.format("upe_encoded").load(out)) == _rows(df)
    tags = {
        r.batch_tag
        for r in spark.read.parquet(os.path.join(out, "lineage")).select("batch_tag").collect()
    }
    # tags are scoped by a checkpoint-derived query token so a later
    # query's batchId 0 can't collide with this one's epoch 0
    import hashlib

    tok = hashlib.sha1(os.path.abspath(ck).encode()).hexdigest()[:12]
    assert tags == {f"ds_epoch_{tok}_0", f"ds_epoch_{tok}_1"}


def test_stream_replayed_epoch_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (sink committed, checkpoint lost) arrives
    with the SAME batchId and fresh payload files — and, after a query
    restart, through a NEW writer instance sharing the same checkpoint:
    its commit must drop the duplicates, not double the data."""
    sds.register(spark)
    out = str(tmp_path / "replay")
    ck = str(tmp_path / "replay_ck")
    opts = {"path": out, "key_col": "doc_id", "checkpointLocation": ck}
    df = _docs(spark).limit(40)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    w = sds._EncodedStreamWriter(opts, df.schema)

    batches = df.toArrow().to_batches()
    msg1 = w.write(iter(batches))
    w.commit([msg1], batchId=7)
    n_first = spark.read.format("upe_encoded").load(out).count()
    assert n_first == 40

    # replay after a RESTART: a fresh writer (new run_id) but the same
    # checkpoint → same query token → same tag → replay detected
    w2 = sds._EncodedStreamWriter(opts, df.schema)
    msg2 = w2.write(iter(df.toArrow().to_batches()))
    dup_files = {r["file"] for r in msg2.rows}
    w2.commit([msg2], batchId=7)
    assert spark.read.format("upe_encoded").load(out).count() == n_first
    for name in dup_files:  # duplicate payload dropped, not orphaned
        assert not os.path.exists(os.path.join(out, "payload", name))


def test_stream_torn_attempt_is_invisible_to_both_scan_paths(spark, tmp_path, monkeypatch):
    """A micro-batch whose payload and manifest rows are written but
    whose lineage never commits (a crash inside the sink's commit) stays
    invisible: the reader and ``decode_dataset`` see each row exactly
    once, through the committed (unit, run_id) semi-join."""
    sds.register(spark)
    out = str(tmp_path / "torn")
    opts = {"path": out, "key_col": "doc_id", "checkpointLocation": str(tmp_path / "torn_ck")}
    df = _docs(spark).limit(40)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    w = sds._EncodedStreamWriter(opts, df.schema)
    w.commit([w.write(iter(df.toArrow().to_batches()))], batchId=0)

    write_meta = meta._write_parquet_file

    def crash_before_lineage(dir_path, name, tbl):
        if os.path.basename(dir_path) == "lineage":
            raise OSError("crash between the manifest and the lineage write")
        write_meta(dir_path, name, tbl)

    monkeypatch.setattr(meta, "_write_parquet_file", crash_before_lineage)
    with pytest.raises(OSError, match="crash"):
        w.commit([w.write(iter(df.toArrow().to_batches()))], batchId=1)
    monkeypatch.undo()
    # the torn batch's manifest rows landed beside the committed ones
    assert len(glob.glob(os.path.join(manifest_dir(out), "*.parquet"))) == 2

    want = _rows(df)
    assert _rows(spark.read.format("upe_encoded").load(out)) == want
    assert _rows(decode_dataset(spark, out)) == want
    # a retry of the batch commits it once
    w.commit([w.write(iter(df.toArrow().to_batches()))], batchId=1)
    assert spark.read.format("upe_encoded").load(out).count() == 80


def test_stream_fresh_query_batch0_is_not_a_replay(spark, tmp_path):
    """A NEW streaming query (fresh checkpoint) writing to a dataset
    that already received epochs restarts batchIds at 0; its first
    commit must NOT be misclassified as a replay of the earlier query's
    epoch 0 (which would silently drop the payload)."""
    sds.register(spark)
    out = str(tmp_path / "fresh")
    df = _docs(spark).limit(40)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))

    w1 = sds._EncodedStreamWriter(
        {"path": out, "key_col": "doc_id", "checkpointLocation": str(tmp_path / "ck1")},
        df.schema,
    )
    w1.commit([w1.write(iter(df.toArrow().to_batches()))], batchId=0)
    assert spark.read.format("upe_encoded").load(out).count() == 40

    # different checkpoint → different query → its batch 0 must commit
    w2 = sds._EncodedStreamWriter(
        {"path": out, "key_col": "doc_id", "checkpointLocation": str(tmp_path / "ck2")},
        df.schema,
    )
    w2.commit([w2.write(iter(df.toArrow().to_batches()))], batchId=0)
    assert spark.read.format("upe_encoded").load(out).count() == 80


def test_overwrite_allows_column_type_change(spark, tmp_path):
    """mode('overwrite') fully supersedes the old generation, so the
    additive-evolution type guard must not block it (it still protects
    append and the streaming sink)."""
    sds.register(spark)
    out = str(tmp_path / "ow_type")
    df = _docs(spark).limit(30)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)

    flipped = df.withColumn("n_chars", df.n_chars.cast("double"))
    # append with a flipped type still fails loudly...
    with pytest.raises(Exception, match="type conflict"):
        flipped.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    # ...but overwrite is a legitimate full replacement
    flipped.write.format("upe_encoded").option("key_col", "doc_id").mode("overwrite").save(out)
    back = spark.read.format("upe_encoded").load(out)
    assert dict(back.dtypes)["n_chars"] == "double"
    assert back.count() == 30


# ---------------------------------------------------------------------------
# streaming READ: tail commits as micro-batches
# ---------------------------------------------------------------------------


def test_stream_read_history_then_increment(spark, tmp_path):
    """The full source matrix round-trips: batch 0 of a fresh stream
    replays the dataset's committed history; after an append commit, a
    RESTART from the same checkpoint emits exactly the new commit's
    rows — offsets are cursors in the (committed_at, run_id) order, so
    nothing is re-emitted and nothing is lost."""
    sds.register(spark)
    out = str(tmp_path / "sr_out")
    ck = str(tmp_path / "sr_ck")
    docs = _docs(spark)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    encode_job(spark, docs.where("doc_id < '25'"), cfg)

    seen: list[tuple[int, int]] = []

    def run_pass(collector):
        q = (
            spark.readStream.format("upe_encoded")
            .load(out)
            .writeStream.foreachBatch(lambda bdf, bid: collector.append((bid, bdf.count())))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_pass(seen)
    n_old = docs.where("doc_id < '25'").count()
    assert sum(c for _, c in seen) == n_old

    docs.where("doc_id >= '25'").write.format("upe_encoded").option(
        "key_col", "doc_id"
    ).mode("append").save(out)
    seen2: list[tuple[int, int]] = []
    run_pass(seen2)
    assert sum(c for _, c in seen2) == docs.count() - n_old


def test_stream_read_rewrite_fails_loudly(spark, tmp_path):
    """A manifest rewrite (overwrite pointer swap) changes the
    generation: outstanding offsets no longer name the same data, so
    planning the next batch must fail with the restart instruction —
    never silently re-emit rewritten history (the Iceberg
    streaming-read rule)."""
    sds.register(spark)
    out = str(tmp_path / "sr_rw")
    df = _docs(spark).limit(60)
    load_or_build_plan(df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",)))
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)

    reader = sds._EncodedStreamReader({"path": out})
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert start["gen"] == "data" and end["ts"] > 0

    df.write.format("upe_encoded").option("key_col", "doc_id").mode("overwrite").save(out)
    with pytest.raises(ValueError, match="rewritten.*fresh checkpoint"):
        reader.partitions(start, reader.latestOffset())


def test_stream_read_offsets_and_determinism(spark, tmp_path):
    """Offset mechanics without a streaming query: starting=latest pins
    the cursor at the current high-water mark; a replayed (start, end]
    interval plans the IDENTICAL chunk partitions (lineage is
    append-only within a generation), which is what makes checkpoint
    replay exactly-once."""
    sds.register(spark)
    out = str(tmp_path / "sr_det")
    docs = _docs(spark)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    encode_job(spark, docs.where("doc_id < '3'"), cfg)
    docs.where("doc_id >= '3'").write.format("upe_encoded").option(
        "key_col", "doc_id"
    ).mode("append").save(out)

    latest = sds._EncodedStreamReader({"path": out, "starting": "latest"})
    assert latest.initialOffset() == latest.latestOffset()

    order = meta._committed_run_order(out)
    assert order == sorted(order) and len(order) == 2

    tail = sds._EncodedStreamReader({"path": out})
    start = tail.initialOffset()
    end = tail.latestOffset()
    plan_a = [p.chunks for p in tail.partitions(start, end)]
    plan_b = [p.chunks for p in tail.partitions(start, end)]
    assert plan_a == plan_b and sum(len(c) for c in plan_a) > 0

    # the interval BETWEEN the two commits contains exactly the second run
    mid = {"gen": start["gen"], "ts": order[0][0], "run": order[0][1]}
    second_only = tail.partitions(mid, end)
    n_second = sum(
        nr for p in second_only for (_, _, _, slices) in p.chunks for (_, nr) in slices
    )
    assert n_second == docs.where("doc_id >= '3'").count()

    with pytest.raises(ValueError, match="earliest|latest"):
        sds._EncodedStreamReader({"path": out, "starting": "bogus"})


def test_write_cluster_by_option_prunes_and_roundtrips(spark, tmp_path):
    """Sink half of write-time clustering: the caller pre-clusters
    (repartitionByRange + sortWithinPartitions) and the
    ``cluster_by`` option keeps that order inside every unit slice
    instead of re-sorting by key; per-chunk lang distinct sets collapse
    so an equality read over the format prunes chunks."""
    out = str(tmp_path / "ds_cluster")
    sds.register(spark)
    df = _docs(spark)
    load_or_build_plan(
        df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    )
    clustered = df.repartitionByRange(8, "lang", "n_chars").sortWithinPartitions(
        "lang", "n_chars"
    )
    (
        clustered.write.format("upe_encoded")
        .option("key_col", "doc_id")
        .option("cluster_by", "lang,n_chars")
        .option("chunk_rows", 64)
        .mode("append")
        .save(out)
    )
    assert _rows(spark.read.format("upe_encoded").load(out)) == _rows(df)
    # pruning evidence via the engine's audit hook: equality on lang
    # skips chunks whose recorded distinct set lacks the value
    ev = {}
    dec = decode_dataset(spark, out, filters=[("lang", "=", "de")], pruning_evidence=ev)
    assert dec.count() == df.where(F.col("lang") == "de").count()
    assert ev["qualifying"] < ev["total"]


def test_write_cluster_by_unknown_column_fails(spark, tmp_path):
    out = str(tmp_path / "ds_cluster_bad")
    sds.register(spark)
    df = _docs(spark)
    load_or_build_plan(
        df, EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    )
    with pytest.raises(Exception, match="cluster_by"):
        (
            df.write.format("upe_encoded")
            .option("key_col", "doc_id")
            .option("cluster_by", "nope")
            .mode("append")
            .save(out)
        )


def test_stream_reader_rereads_no_lineage_on_an_unchanged_dataset(spark, tmp_path, monkeypatch):
    """The stream cursor and the committed manifest come from the one
    cached lineage table: once a trigger has planned, the next
    latestOffset + partitions over an unchanged dataset reads no
    metadata file — and a new commit is seen by the next trigger."""
    sds.register(spark)
    out = str(tmp_path / "sr_cached")
    docs = _docs(spark)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    encode_job(spark, docs.where("doc_id < '3'"), cfg)

    reads = []
    real = meta._read_meta_table
    monkeypatch.setattr(meta, "_read_meta_table", lambda *a: reads.append(a[0]) or real(*a))
    reader = sds._EncodedStreamReader({"path": out})
    start = reader.initialOffset()
    end = reader.latestOffset()
    reader.partitions(start, end)
    reads.clear()
    assert reader.latestOffset() == end
    reader.partitions(start, end)
    assert reads == []

    docs.where("doc_id >= '3'").write.format("upe_encoded").option(
        "key_col", "doc_id"
    ).mode("append").save(out)
    newer = reader.latestOffset()
    assert (newer["ts"], newer["run"]) > (end["ts"], end["run"])
    assert any(os.path.basename(p) == "lineage" for p in reads)


def test_stream_read_rate_limit_offsets(spark, tmp_path):
    """max_runs_per_batch caps each micro-batch at N commits: successive
    latestOffset calls walk the committed-run order one capped step at a
    time (the maxFilesPerTrigger analog), and a restart replay seeds the
    cursor through partitions() so the cap resumes from the checkpoint
    interval, not from zero."""
    sds.register(spark)
    out = str(tmp_path / "sr_rate")
    docs = _docs(spark)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    encode_job(spark, docs.where("doc_id < '2'"), cfg)
    for cond in ("doc_id >= '2' and doc_id < '5'", "doc_id >= '5'"):
        docs.where(cond).write.format("upe_encoded").option(
            "key_col", "doc_id"
        ).mode("append").save(out)
    order = meta._committed_run_order(out)
    assert len(order) == 3

    r = sds._EncodedStreamReader({"path": out, "max_runs_per_batch": "1"})
    start = r.initialOffset()
    offs = [start]
    for _ in range(3):
        offs.append(r.latestOffset())
    # one commit per step, then no further progress
    for i, (ts, run) in enumerate(order):
        assert (offs[i + 1]["ts"], offs[i + 1]["run"]) == (ts, run)
    assert r.latestOffset() == offs[-1]
    # every capped interval plans exactly its one run's rows
    n = 0
    for s, e in zip(offs, offs[1:]):
        for part in r.partitions(s, e):
            n += sum(nr for *_x, slices in part.chunks for _off, nr in slices)
    assert n == docs.count()

    # restart: a fresh reader (no initialOffset) replays the checkpoint
    # interval via partitions(), which seeds the cursor — the next
    # latestOffset advances ONE commit past it, not to the high-water
    r2 = sds._EncodedStreamReader({"path": out, "max_runs_per_batch": "1"})
    r2.partitions(offs[0], offs[1])
    nxt = r2.latestOffset()
    assert (nxt["ts"], nxt["run"]) == order[1]


def test_stream_read_rate_limit_end_to_end(spark, tmp_path):
    """Through a real running query: Spark's Python stream protocol
    snapshots latestOffset before the cursor is known, so batch 0 is
    uncapped (documented); commits arriving WHILE the stream runs — the
    steady-state ingest case the cap exists for — are admitted at most
    max_runs_per_batch commits per micro-batch, exactly once."""
    import time

    sds.register(spark)
    out = str(tmp_path / "sr_rate_e2e")
    ck = str(tmp_path / "sr_rate_ck")
    docs = _docs(spark)
    cfg = EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",))
    encode_job(spark, docs.where("doc_id < '2'"), cfg)
    n_first = docs.where("doc_id < '2'").count()

    seen: list[tuple[int, int]] = []
    q = (
        spark.readStream.format("upe_encoded")
        .option("max_runs_per_batch", "1")
        .load(out)
        .writeStream.foreachBatch(lambda bdf, bid: seen.append((bid, bdf.count())))
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        t0 = time.time()
        while time.time() - t0 < 60 and sum(c for _, c in seen) < n_first:
            time.sleep(1)
        assert sum(c for _, c in seen) == n_first  # batch 0 drained

        # three commits land while the stream runs
        conds = (
            "doc_id >= '2' and doc_id < '4'",
            "doc_id >= '4' and doc_id < '6'",
            "doc_id >= '6'",
        )
        sizes = []
        for cond in conds:
            docs.where(cond).write.format("upe_encoded").option(
                "key_col", "doc_id"
            ).mode("append").save(out)
            sizes.append(docs.where(cond).count())
        t0 = time.time()
        while time.time() - t0 < 120 and sum(c for _, c in seen) < docs.count():
            time.sleep(1)
    finally:
        q.stop()
    assert sum(c for _, c in seen) == docs.count()  # exactly once, no loss
    tail = [c for _, c in seen if c > 0][1:]  # batches after batch 0
    # capped: every steady-state batch admits at most ONE commit's rows
    assert len(tail) >= 3 and all(c <= max(sizes) for c in tail)
