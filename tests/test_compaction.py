"""Compaction: fragmented units re-packed into full-size chunks behind
the versioned-manifest pointer swap — values bit-identical, fragments
actually merged, in-flight (uncommitted) rows preserved, superseded
bytes reclaimable by the next vacuum."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _spark_jobs
from universal_parquet_exporter_spark.encode import meta
from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.maintenance import vacuum
from universal_parquet_exporter_spark.encode.meta import manifest_dir
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job, encode_parquet_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.encode.stats import dataset_column_stats
from universal_parquet_exporter_spark.fixtures import generate_webpages
from universal_parquet_exporter_spark.sources import spark_datasource as sds

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def _ingest_fragmented(spark, out, n_batches=4, chunk_rows=64):
    """n_batches small appends -> every unit holds many tiny slices."""
    df = _docs(spark)
    for i in range(n_batches):
        part = df.where(F.crc32(F.col("doc_id")) % n_batches == i)
        cfg = EncodeJobConfig(
            output_dir=out,
            key_col="doc_id",
            size_cols=("text",),
            target_unit_bytes=256 << 10,
            chunk_rows=chunk_rows,
            skip_completed=False,
            batch_tag=f"append_{i}",
        )
        encode_job(spark, part, cfg)
    return df


def _committed_slices(spark, out):
    man = spark.read.parquet(manifest_dir(out))
    ok = (
        spark.read.parquet(os.path.join(out, "lineage"))
        .where("status = 'ok'")
        .select("unit", "run_id")
    )
    return man.join(ok, ["unit", "run_id"], "left_semi")


def test_compact_merges_and_preserves_values(spark, tmp_path):
    out = str(tmp_path / "cmp")
    df = _ingest_fragmented(spark, out)
    before = _committed_slices(spark, out)
    n_before = before.count()
    avg_before = before.agg(F.avg("n_rows")).collect()[0][0]

    rep = compact(spark, out, chunk_rows=32768)
    assert rep["units_compacted"] > 0
    assert rep["manifest_rewritten"]
    assert 0 < rep["slices_after"] < rep["slices_before"]
    assert manifest_dir(out).endswith("data_v1")

    after = _committed_slices(spark, out)
    assert after.count() < n_before
    assert after.agg(F.avg("n_rows")).collect()[0][0] > avg_before

    got = sorted(tuple(r) for r in decode_dataset(spark, out).collect())
    exp = sorted(tuple(r) for r in df.collect())
    assert got == exp


def test_compact_noop_on_healthy_dataset(spark, tmp_path):
    out = str(tmp_path / "healthy")
    df = _docs(spark)
    encode_job(
        spark,
        df,
        EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",), target_unit_bytes=4 << 20),
    )
    rep = compact(spark, out, chunk_rows=64)  # every slice >= 64/2 rows
    assert rep["units_compacted"] == 0
    assert not rep["manifest_rewritten"]
    assert manifest_dir(out).endswith("data")


def test_compact_dry_run_changes_nothing(spark, tmp_path):
    out = str(tmp_path / "dry")
    df = _ingest_fragmented(spark, out, n_batches=2)
    rep = compact(spark, out, dry_run=True)
    assert rep["units_compacted"] > 0 and not rep["manifest_rewritten"]
    assert manifest_dir(out).endswith("data")
    got = sorted(tuple(r) for r in decode_dataset(spark, out).collect())
    assert got == sorted(tuple(r) for r in df.collect())


def test_compact_preserves_inflight_uncommitted_rows(spark, tmp_path):
    """A run that committed its manifest but not yet its lineage (crash
    window / in-flight job) must survive the rewrite: dropping its rows
    would lose the data it is about to commit."""
    out = str(tmp_path / "inflight")
    _ingest_fragmented(spark, out, n_batches=2)
    data_dir = manifest_dir(out)
    man = spark.read.parquet(data_dir)
    inflight = man.limit(3).withColumn("run_id", F.lit("inflight-run"))
    inflight.select(*man.columns).write.mode("append").parquet(data_dir)
    n_inflight = (
        spark.read.parquet(data_dir).where(F.col("run_id") == "inflight-run").count()
    )
    assert n_inflight > 0

    compact(spark, out)
    new_man = spark.read.parquet(manifest_dir(out))
    assert new_man.where(F.col("run_id") == "inflight-run").count() == n_inflight


def test_vacuum_reclaims_superseded_payload(spark, tmp_path):
    """After compaction, chunks referenced ONLY by the compacted units'
    old manifest rows are dead; the next vacuum sweeps them."""
    out = str(tmp_path / "reclaim")
    df = _ingest_fragmented(spark, out)
    compact(spark, out)
    rep = vacuum(spark, out)
    assert rep["deleted_files"] > 0
    assert rep["reclaimed_bytes"] > 0
    got = sorted(tuple(r) for r in decode_dataset(spark, out).collect())
    assert got == sorted(tuple(r) for r in df.collect())


def test_compact_requires_plan(spark, tmp_path):
    with pytest.raises(ValueError, match="plan.json"):
        compact(spark, str(tmp_path / "nope"))


def test_compact_evolved_dataset_preserves_union(spark, tmp_path):
    """Schema evolution × compaction: a fragmented unit holding chunks
    from TWO generations (one with ``source``, one with ``score``)
    re-packs into shared chunks — the rewrite pads each decoded chunk to
    the generations' union schema, so the decoded union (typed nulls for
    absent-column rows) is identical before and after the rewrite."""
    from universal_parquet_exporter_spark.encode.pipeline import load_or_build_plan

    out = str(tmp_path / "evocmp")
    df = _docs(spark)
    old = df.where("doc_id < '25'")
    new = (
        df.where("doc_id >= '25'")
        .drop("source")
        .withColumn("score", F.col("n_chars").cast("double") / 10.0)
    )
    load_or_build_plan(
        df,
        EncodeJobConfig(
            output_dir=out, key_col="doc_id", size_cols=("text",), target_unit_bytes=256 << 10
        ),
    )
    for i, part in enumerate(
        [
            old.where(F.crc32(F.col("doc_id")) % 2 == 0),
            new.where(F.crc32(F.col("doc_id")) % 2 == 0),
            old.where(F.crc32(F.col("doc_id")) % 2 == 1),
            new.where(F.crc32(F.col("doc_id")) % 2 == 1),
        ]
    ):
        encode_job(
            spark,
            part,
            EncodeJobConfig(
                output_dir=out,
                key_col="doc_id",
                size_cols=("text",),
                chunk_rows=64,
                skip_completed=False,
                batch_tag=f"gen_{i}",
            ),
        )

    expected = old.withColumn("score", F.lit(None).cast("double")).unionByName(
        new.withColumn("source", F.lit(None).cast("string"))
    )
    cols = sorted(expected.columns)
    before = sorted(tuple(r) for r in decode_dataset(spark, out).select(*cols).collect())
    assert before == sorted(tuple(r) for r in expected.select(*cols).collect())

    rep = compact(spark, out, chunk_rows=32768)
    assert rep["units_compacted"] > 0
    assert rep["slices_after"] < rep["slices_before"]
    after = sorted(tuple(r) for r in decode_dataset(spark, out).select(*cols).collect())
    assert after == before


def test_compact_merges_a_dataframe_and_an_int96_parquet_generation(spark, tmp_path):
    """``encode_job`` stores ``warc_ts`` zone-aware, and
    ``encode_parquet_job`` of Spark-written (INT96) parquet stores it
    naive: one Spark type, so the append guard and the union probe let
    both in.  The rewrite casts every decoded batch to the targets' union
    schema, so their rows merge into shared chunks, and both scan paths
    read the same rows before and after."""
    pages = generate_webpages(spark, 2000, partitions=2).cache()
    out, src = str(tmp_path / "mixed"), str(tmp_path / "src")
    pages.where(F.hash("url") % 2 != 0).write.parquet(src)
    cfg = dict(output_dir=out, target_unit_bytes=256 << 10, chunk_rows=64, skip_completed=False)
    encode_job(spark, pages.where(F.hash("url") % 2 == 0), EncodeJobConfig(**cfg))
    encode_parquet_job(spark, src, EncodeJobConfig(**cfg))
    sds.register(spark)

    def both_paths():
        reads = (decode_dataset(spark, out), spark.read.format("upe_encoded").load(out))
        return [sorted(tuple(r) for r in d.select(*pages.columns).collect()) for d in reads]

    expected = sorted(tuple(r) for r in pages.collect())
    pages.unpersist()
    assert both_paths() == [expected, expected]
    rep = compact(spark, out, chunk_rows=4096)
    assert 0 < rep["slices_after"] < rep["slices_before"]
    assert both_paths() == [expected, expected]


def test_compact_skips_crashed_overwrite_version_dir(spark, tmp_path):
    """Version allocation scans EXISTING data_v* dirs: a leftover
    data_v3 from a crashed (or in-flight) DataSource overwrite must not
    be clobbered — compact targets data_v4 and leaves v3 untouched."""
    out = str(tmp_path / "cmpver")
    df = _ingest_fragmented(spark, out)
    stray = os.path.join(out, "data_v3")
    os.makedirs(stray)
    marker = os.path.join(stray, "in-flight-writer.parquet")
    open(marker, "w").write("not ours")

    rep = compact(spark, out, chunk_rows=32768)
    assert rep["manifest_rewritten"]
    assert manifest_dir(out).endswith("data_v4")
    assert open(marker).read() == "not ours"  # stray dir untouched
    got = {r.doc_id for r in decode_dataset(spark, out).select("doc_id").collect()}
    assert got == {r.doc_id for r in df.select("doc_id").collect()}


def test_compact_cluster_by_retroclusters(spark, tmp_path):
    """``compact(cluster_by=...)`` = Iceberg's sort-strategy
    rewrite_data_files: a dataset ingested in interleaved order gains
    narrow per-chunk zone maps on the cluster columns retroactively —
    values still bit-identical, and an equality decode over the
    rewritten manifest prunes chunks it could not prune before."""
    import json

    out = str(tmp_path / "cmp_cluster")
    df = _ingest_fragmented(spark, out)

    def dv_singletons(slices):
        rows = slices.select(
            F.get_json_object("stats", "$._dv.lang").alias("dv")
        ).collect()
        if not rows:
            return 0.0
        return sum(
            1 for r in rows if r.dv is not None and len(json.loads(r.dv)) == 1
        ) / len(rows)

    before = dv_singletons(_committed_slices(spark, out))

    rep = compact(
        spark, out, chunk_rows=8, min_avg_slice_rows=1 << 30, cluster_by=("lang",)
    )
    assert rep["units_compacted"] > 0 and rep["manifest_rewritten"]

    after = dv_singletons(_committed_slices(spark, out))
    assert after > before
    assert after > 0.5

    # bit-identity survives the re-sort
    dec = decode_dataset(spark, out)
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, df.collect()))
    # and the equality filter now prunes
    ev = {}
    got = decode_dataset(spark, out, filters=[("lang", "=", "de")], pruning_evidence=ev)
    assert got.count() == df.where(F.col("lang") == "de").count()
    assert ev["qualifying"] < ev["total"]


def test_compact_cluster_by_unknown_column_fails(spark, tmp_path):
    out = str(tmp_path / "cmp_cluster_bad")
    _ingest_fragmented(spark, out, n_batches=2)
    with pytest.raises(ValueError, match="cluster_by"):
        compact(spark, out, chunk_rows=64, cluster_by=("nope",))


def test_compact_cluster_by_column_outside_targets_fails_up_front(spark, tmp_path):
    """A cluster column that only NON-target generations carry cannot
    sort the target units' rows: compact must refuse before launching the
    rewrite, with the manifest untouched."""
    from universal_parquet_exporter_spark.encode.meta import _persist_plan
    from universal_parquet_exporter_spark.plans.partitioning import EncodePlan

    out = str(tmp_path / "cmp_cluster_outside")
    df = _docs(spark)
    # two unsalted units split at doc_id '25': unit 0 gets fragmented
    # appends without `score`, unit 1 one healthy slice with it
    _persist_plan(EncodePlan("doc_id", ["25"], [1, 1]), out)
    frag = df.where("doc_id < '25'")
    for i in range(2):
        encode_job(
            spark,
            frag.where(F.crc32(F.col("doc_id")) % 2 == i),
            EncodeJobConfig(
                output_dir=out, key_col="doc_id", size_cols=("text",), chunk_rows=64,
                skip_completed=False, batch_tag=f"frag_{i}",
            ),
        )
    encode_job(
        spark,
        df.where("doc_id >= '25'").withColumn("score", F.col("n_chars") / 10.0).coalesce(1),
        EncodeJobConfig(
            output_dir=out, key_col="doc_id", size_cols=("text",), skip_completed=False,
            batch_tag="healthy",
        ),
    )
    with pytest.raises(ValueError, match="outside the units selected"):
        compact(spark, out, cluster_by=("score",))
    assert manifest_dir(out).endswith("data")


def test_metadata_work_runs_no_spark_job(spark, tmp_path):
    """Compaction, vacuum and column stats read and commit the manifest
    on the driver in Arrow: the only Spark job left among them is
    compaction's payload rewrite."""
    out = str(tmp_path / "jobs")
    _ingest_fragmented(spark, out)
    assert _spark_jobs(spark, lambda: dataset_column_stats(spark, out)) == 0
    assert _spark_jobs(spark, lambda: compact(spark, out, dry_run=True)) == 0
    rep: dict = {}
    assert _spark_jobs(spark, lambda: rep.update(compact(spark, out, chunk_rows=32768))) == 1
    assert rep["manifest_rewritten"]
    vac: dict = {}
    assert _spark_jobs(spark, lambda: vac.update(vacuum(spark, out))) == 0
    assert 0 < vac["deleted_files"] <= 256  # below the cluster fan-out threshold


def test_crash_before_pointer_swap_leaves_the_old_manifest_live(spark, tmp_path, monkeypatch):
    """A compaction that dies after ``commit_fragments`` wrote its
    manifest and lineage files but before the pointer swap: both scan
    paths still read the pre-compaction rows, the new lineage matches no
    live manifest row, and a second compaction takes the next version
    dir and decodes the same rows."""
    out = str(tmp_path / "crash")
    df = _ingest_fragmented(spark, out)
    expected = sorted(tuple(r) for r in df.collect())
    lineage = os.path.join(out, "lineage")
    lineage_before = set(os.listdir(lineage))

    def crash(*a, **k):
        raise RuntimeError("crashed before the pointer swap")

    monkeypatch.setattr(meta, "set_manifest_dir", crash)
    with pytest.raises(RuntimeError, match="pointer swap"):
        compact(spark, out, chunk_rows=32768)
    monkeypatch.undo()

    assert manifest_dir(out).endswith("data")
    new_lineage = [f for f in set(os.listdir(lineage)) - lineage_before if f.endswith(".parquet")]
    assert len(new_lineage) == 1
    compact_runs = set(pq.read_table(os.path.join(lineage, new_lineage[0])).column("run_id").to_pylist())
    assert len(pq.read_table(os.path.join(out, "data_v1"))) > 0  # the orphaned new manifest
    live_runs = set(pq.read_table(manifest_dir(out)).column("run_id").to_pylist())
    assert not (compact_runs & live_runs)

    assert sorted(tuple(r) for r in decode_dataset(spark, out).collect()) == expected
    sds.register(spark)
    got = spark.read.format("upe_encoded").load(out).select(*df.columns)
    assert sorted(tuple(r) for r in got.collect()) == expected

    rep = compact(spark, out, chunk_rows=32768)
    assert rep["manifest_rewritten"]
    assert manifest_dir(out).endswith("data_v2")
    assert sorted(tuple(r) for r in decode_dataset(spark, out).collect()) == expected


def test_compact_publishes_nothing_when_the_live_manifest_cannot_be_reread(spark, tmp_path, monkeypatch):
    """The publish re-reads the live generation for its survivors: a
    re-read that fails (a transient storage error, a file swept under
    it) raises before any file is written — never a generation holding
    only the compacted units, with every other unit gone."""
    out = str(tmp_path / "reread")
    df = _ingest_fragmented(spark, out)
    expected = sorted(tuple(r) for r in df.collect())
    meta._committed_manifest(out)  # the selection reads this cached view
    reads = []
    monkeypatch.setattr(meta, "_read_manifest", lambda *a, **k: reads.append(a) and None)
    with pytest.raises(RuntimeError, match="nothing published"):
        compact(spark, out, chunk_rows=32768)
    monkeypatch.undo()

    assert reads  # the publish's re-read, not the selection, failed
    assert not os.path.exists(os.path.join(out, "manifest_current"))
    assert not os.path.exists(os.path.join(out, "data_v1"))
    assert sorted(tuple(r) for r in decode_dataset(spark, out).collect()) == expected
