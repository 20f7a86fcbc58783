"""Vacuum sweep tests: dead payload files + orphan manifest rows from a
crashed run are reclaimed and decode stays bit-identical.

Crash model matches the pipeline's commit ordering (payload write →
manifest commit → lineage commit): a run that dies after the manifest
commit leaves orphan manifest rows AND dead payload files; a task
attempt that dies before its manifest commit leaves only a dead payload
file.  Both are simulated the way ``test_orphan_fragments_ignored``
does."""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import _spark_jobs
from universal_parquet_exporter_spark.encode.maintenance import _delete_files, vacuum
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages

N_ROWS = 6000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="upes_vac_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _payload_bytes(outdir):
    pdir = os.path.join(outdir, "payload")
    return sum(os.path.getsize(os.path.join(pdir, f)) for f in os.listdir(pdir))


def _crash_after_manifest_commit(spark, webpages, outdir):
    """Simulate a run that died between the manifest commit and the
    lineage commit: its payload files exist and its manifest rows are
    committed, but no lineage row records the run."""
    data_dir = os.path.join(outdir, "data")
    pdir = os.path.join(outdir, "payload")
    torn = spark.read.parquet(data_dir).withColumn("run_id", F.lit("deadbeef0000"))
    # the torn run's payload: distinct fake files so file-level liveness
    # is exercised (a live and a dead manifest row never share a file)
    fake_rows = torn.select("file").distinct().collect()
    renames = {r.file: f"frag-torn-{i:04d}.bin" for i, r in enumerate(fake_rows)}
    for src, dst in renames.items():
        shutil.copyfile(os.path.join(pdir, src), os.path.join(pdir, dst))
    mapping = F.create_map([F.lit(x) for kv in renames.items() for x in kv])
    torn = torn.withColumn("file", mapping[F.col("file")])
    torn.write.mode("append").parquet(data_dir)
    return set(renames.values())


def test_vacuum_reclaims_dead_files_and_orphan_rows(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    baseline = decode_dataset(spark, outdir).orderBy("url").collect()

    dead_names = _crash_after_manifest_commit(spark, webpages, outdir)
    # plus a payload-only casualty: an attempt that died pre-commit
    pdir = os.path.join(outdir, "payload")
    with open(os.path.join(pdir, "frag-lost-attempt.bin"), "wb") as f:
        f.write(b"\x00" * 4096)
    dead_names.add("frag-lost-attempt.bin")
    before = _payload_bytes(outdir)

    dry = vacuum(spark, outdir, dry_run=True)
    assert dry["deleted_files"] == len(dead_names)
    assert dry["orphan_manifest_rows"] > 0
    assert _payload_bytes(outdir) == before  # dry run touches nothing

    rep = vacuum(spark, outdir)
    assert rep["deleted_files"] == len(dead_names)
    assert rep["reclaimed_bytes"] > 0
    assert rep["manifest_rewritten"] is True
    assert before - _payload_bytes(outdir) == rep["reclaimed_bytes"]
    surviving = set(os.listdir(pdir))
    assert not (surviving & dead_names)

    # CURRENT manifest (pointer-resolved) now orphan-free; the retired
    # dir is still on disk for in-flight readers; decode bit-identical
    from universal_parquet_exporter_spark.encode.meta import manifest_dir

    cur = manifest_dir(outdir)
    assert os.path.basename(cur) == "data_v1"
    data = spark.read.parquet(cur)
    assert data.where("run_id = 'deadbeef0000'").count() == 0
    assert os.path.isdir(os.path.join(outdir, "data"))  # retired, kept
    after = decode_dataset(spark, outdir).orderBy("url").collect()
    assert after == baseline

    # a second sweep finds no dead files/orphans and retires the old dir
    # (horizon 0 → immediately eligible)
    rep2 = vacuum(spark, outdir)
    assert rep2["deleted_files"] == 0 and rep2["orphan_manifest_rows"] == 0
    assert rep2["retired_manifest_dirs"] == 1
    assert not os.path.exists(os.path.join(outdir, "data"))
    assert decode_dataset(spark, outdir).orderBy("url").collect() == baseline


def test_vacuum_horizon_spares_recent_files(spark, webpages, outdir):
    """A live job's not-yet-committed payload file (recent mtime) must
    survive a horizoned sweep — the Iceberg concurrency contract."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    pdir = os.path.join(outdir, "payload")
    fresh = os.path.join(pdir, "frag-inflight.bin")
    with open(fresh, "wb") as f:
        f.write(b"\x01" * 1024)
    old = os.path.join(pdir, "frag-ancient.bin")
    with open(old, "wb") as f:
        f.write(b"\x02" * 1024)
    past = time.time() - 7200
    os.utime(old, (past, past))

    rep = vacuum(spark, outdir, older_than_sec=3600)
    assert rep["deleted_files"] == 1
    assert os.path.exists(fresh) and not os.path.exists(old)


def test_vacuum_uri_output_dir(spark, webpages, outdir):
    """The sweep works through the pyarrow.fs routing (file:// stands in
    for hdfs://; manifest rewrite uses fs.move)."""
    uri = "file://" + outdir
    cfg = EncodeJobConfig(output_dir=uri, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    _crash_after_manifest_commit(spark, webpages, outdir)

    rep = vacuum(spark, uri)
    assert rep["deleted_files"] > 0
    assert rep["orphan_manifest_rows"] > 0 and rep["manifest_rewritten"] is True
    assert decode_dataset(spark, uri).count() == N_ROWS


def test_vacuum_horizon_spares_young_orphan_rows(spark, webpages, outdir):
    """An in-flight run that committed its manifest but not yet its
    lineage is a YOUNG orphan: a horizoned sweep must leave its manifest
    rows (and payload files) alone — dropping them would lose the data
    it is about to commit.  Once the part files age past the horizon the
    same rows are compacted."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    data_dir = os.path.join(outdir, "data")
    before = set(os.listdir(data_dir))
    dead_names = _crash_after_manifest_commit(spark, webpages, outdir)
    new_parts = set(os.listdir(data_dir)) - before

    rep = vacuum(spark, outdir, older_than_sec=3600)
    assert rep["orphan_manifest_rows"] == 0 and rep["manifest_rewritten"] is False
    assert rep["deleted_files"] == 0  # the torn run's payload is young too
    surviving = set(os.listdir(os.path.join(outdir, "payload")))
    assert dead_names <= surviving

    past = time.time() - 7200
    for f in new_parts:
        os.utime(os.path.join(data_dir, f), (past, past))
    for f in dead_names:
        os.utime(os.path.join(outdir, "payload", f), (past, past))
    rep2 = vacuum(spark, outdir, older_than_sec=3600)
    assert rep2["orphan_manifest_rows"] > 0 and rep2["manifest_rewritten"] is True
    assert rep2["deleted_files"] == len(dead_names)
    assert decode_dataset(spark, outdir).count() == N_ROWS


def test_vacuum_skips_stray_subdirectory(spark, webpages, outdir):
    """A stray subdirectory under payload/ (checkpoint dir, _tmp dir from
    some other tool) must be ignored, not classified as a dead file — the
    payload listing keeps regular files only."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    pdir = os.path.join(outdir, "payload")
    stray = os.path.join(pdir, "stray_dir")
    os.makedirs(stray)
    with open(os.path.join(stray, "inner.bin"), "wb") as f:
        f.write(b"\x00" * 64)

    rep = vacuum(spark, outdir)
    assert rep["deleted_files"] == 0
    assert os.path.isdir(stray)  # untouched
    assert decode_dataset(spark, outdir).count() == N_ROWS


def test_vacuum_horizon_anchored_to_storage_clock(spark, webpages, outdir, monkeypatch):
    """The older_than_sec horizon compares against STORAGE mtimes, so
    'now' must come from the storage clock: with the driver clock a day
    behind (simulated), a 2h-old dead file must still be swept under a
    1h horizon.  Driver-time anchoring would compute a negative age and
    wrongly spare it."""
    import universal_parquet_exporter_spark.encode.maintenance as m

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    pdir = os.path.join(outdir, "payload")
    dead = os.path.join(pdir, "frag-dead-aged.bin")
    with open(dead, "wb") as f:
        f.write(b"\x02" * 1024)
    past = time.time() - 7200
    os.utime(dead, (past, past))

    real_time = time.time

    class _SkewedClock:  # replaces the module's `time` binding only
        @staticmethod
        def time():
            return real_time() - 86400

    monkeypatch.setattr(m, "time", _SkewedClock)
    rep = vacuum(spark, outdir, older_than_sec=3600)
    assert rep["deleted_files"] == 1
    assert not os.path.exists(dead)


def test_decode_key_range_after_vacuum_without_rewrite(spark, webpages, outdir):
    """The object-store mode (rewrite_manifest=False) deletes orphan
    payload FILES but keeps their manifest rows; a key-range decode's
    schema probe must not land on such a row (it reads the committed
    manifest, not the raw one) — regression for the FileNotFoundError
    the raw-manifest probe could raise on a healthy dataset."""
    from universal_parquet_exporter_spark.encode.meta import _load_plan

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=1 << 20)
    encode_job(spark, webpages, cfg)
    _crash_after_manifest_commit(spark, webpages, outdir)

    rep = vacuum(spark, outdir, rewrite_manifest=False)
    assert rep["deleted_files"] > 0 and rep["manifest_rewritten"] is False
    # orphan rows still present in the manifest, their payload gone
    data = spark.read.parquet(os.path.join(outdir, "data"))
    assert data.where("run_id = 'deadbeef0000'").count() > 0

    plan = _load_plan(outdir)
    lo, hi = plan.boundaries[0], plan.boundaries[-1]
    got = decode_dataset(spark, outdir, filters=[("url", ">=", lo), ("url", "<=", hi)])
    expect = webpages.where((F.col("url") >= lo) & (F.col("url") <= hi))
    assert got.count() == expect.count()


def test_vacuum_rewrite_pointer_swap_and_crash_recovery(spark, webpages, outdir):
    """Versioned-rewrite semantics: (a) a horizoned rewrite keeps the
    retired manifest on disk until the pointer is older than the
    horizon — a reader that resolved it pre-swap can still finish;
    (b) a rewrite that crashed AFTER writing its new dir but BEFORE the
    pointer swap leaves the pointer on the old manifest and the
    unreferenced dir is swept once aged."""
    from universal_parquet_exporter_spark.encode.meta import manifest_dir

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    baseline = decode_dataset(spark, outdir).orderBy("url").collect()
    _crash_after_manifest_commit(spark, webpages, outdir)
    # age everything so the orphan rows qualify under a 1h horizon
    past = time.time() - 7200
    for sub in ("data", "payload"):
        d = os.path.join(outdir, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (past, past))

    rep = vacuum(spark, outdir, older_than_sec=3600)
    assert rep["manifest_rewritten"] is True
    assert manifest_dir(outdir).endswith("data_v1")
    # retired dir survives this sweep AND an immediate next one (the
    # pointer is fresh — younger than the horizon)
    rep2 = vacuum(spark, outdir, older_than_sec=3600)
    assert rep2["retired_manifest_dirs"] == 0
    assert os.path.isdir(os.path.join(outdir, "data"))
    assert decode_dataset(spark, outdir).orderBy("url").collect() == baseline

    # crashed rewrite: unreferenced data_v9 beside a valid pointer
    import shutil as _sh

    _sh.copytree(os.path.join(outdir, "data"), os.path.join(outdir, "data_v9"))
    for f in os.listdir(os.path.join(outdir, "data_v9")):
        os.utime(os.path.join(outdir, "data_v9", f), (past, past))
    rep3 = vacuum(spark, outdir, older_than_sec=3600)
    assert os.path.isdir(os.path.join(outdir, "data_v9"))  # pointer still young
    os.utime(os.path.join(outdir, "manifest_current"), (past, past))
    rep4 = vacuum(spark, outdir, older_than_sec=3600)
    assert rep4["retired_manifest_dirs"] == 2  # data + data_v9
    assert not os.path.exists(os.path.join(outdir, "data_v9"))
    assert decode_dataset(spark, outdir).orderBy("url").collect() == baseline


def test_vacuum_heals_interrupted_swap(spark, webpages, outdir):
    """A vacuum killed between the two swap renames leaves data/ missing
    and data.vacuum_old behind; the next vacuum must roll it back before
    sweeping, and decode must be intact."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    data_dir = os.path.join(outdir, "data")
    os.rename(data_dir, data_dir + ".vacuum_old")
    os.makedirs(data_dir + ".vacuum_tmp")  # half-written rewrite output

    rep = vacuum(spark, outdir)
    assert os.path.isdir(data_dir)
    assert not os.path.exists(data_dir + ".vacuum_old")
    assert not os.path.exists(data_dir + ".vacuum_tmp")
    assert rep["orphan_manifest_rows"] == 0
    assert decode_dataset(spark, outdir).count() == N_ROWS


def test_delete_files_skips_missing_names_on_both_sides_of_the_fan_out(spark, outdir):
    """Above 256 names the sweep's deletes run as one Spark job, below it
    on the driver; both delete every listed file and skip a name whose
    file is already gone."""
    pdir = os.path.join(outdir, "payload")
    os.makedirs(pdir)
    for n in (10, 300):
        names = [f"frag-{n}-{i}.bin" for i in range(n)]
        for name in names[3:]:
            with open(os.path.join(pdir, name), "wb") as f:
                f.write(b"x")
        jobs = _spark_jobs(spark, lambda: _delete_files(pdir, names, spark))
        assert jobs == (1 if n > 256 else 0)
        assert os.listdir(pdir) == []



def test_vacuum_rewrite_publishes_nothing_when_the_live_manifest_cannot_be_reread(
    spark, webpages, outdir, monkeypatch
):
    """The rewrite re-reads the live generation for its survivors: a
    re-read that fails raises before any file is written — never a
    pointer at a generation that holds no rows."""
    from universal_parquet_exporter_spark.encode import meta

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    baseline = decode_dataset(spark, outdir).orderBy("url").collect()
    _crash_after_manifest_commit(spark, webpages, outdir)

    # vacuum's own read goes through the name maintenance imported; only
    # the publish's re-read, looked up in meta, fails
    reads = []
    monkeypatch.setattr(meta, "_read_manifest", lambda *a, **k: reads.append(a) and None)
    with pytest.raises(RuntimeError, match="nothing published"):
        vacuum(spark, outdir)
    monkeypatch.undo()

    assert reads
    assert not os.path.exists(os.path.join(outdir, "manifest_current"))
    assert not os.path.exists(os.path.join(outdir, "data_v1"))
    assert decode_dataset(spark, outdir).orderBy("url").collect() == baseline
    assert vacuum(spark, outdir)["manifest_rewritten"]
    assert decode_dataset(spark, outdir).orderBy("url").collect() == baseline
