"""The encode commit (:func:`commit_fragments`): the stage's one Spark
action brings the manifest rows to the driver as Arrow, and the driver
writes one manifest file and one lineage file per call — no Spark
write, no read-back."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import _broadcasts, _spark_jobs, _sql_executions
from universal_parquet_exporter_spark.encode import meta, scan
from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    encode_parquet_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages
from universal_parquet_exporter_spark.plans.partitioning import EncodePlan, assign_units
from universal_parquet_exporter_spark.sources import spark_datasource as sds

N_ROWS = 4000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def webpages_parquet(spark, webpages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("commit_in"))
    webpages.write.mode("overwrite").parquet(d)
    return d


def _cfg(out, **kw):
    return EncodeJobConfig(output_dir=out, target_unit_bytes=1 << 20, chunk_rows=1024, **kw)


def _parquet_files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith("."))


def test_lineage_is_the_group_by_of_the_runs_manifest(spark, webpages_parquet, tmp_path):
    out = str(tmp_path / "a")
    m = encode_parquet_job(spark, webpages_parquet, _cfg(out, batch_tag="t0"))
    data, lineage = os.path.join(out, "data"), os.path.join(out, "lineage")
    assert len(_parquet_files(data)) == 1 and len(_parquet_files(lineage)) == 1

    frags = pq.read_table(data).to_pylist()
    want: dict = {}
    for r in frags:
        assert r["run_id"] == m["run_id"]
        u = want.setdefault(
            r["unit"], {"n_rows": 0, "bytes_in": 0, "bytes_out": 0, "n_fragments": 0, "native": True}
        )
        u["n_rows"] += r["n_rows"]
        u["bytes_in"] += r["bytes_in"]
        u["bytes_out"] += r["bytes_out"]
        u["n_fragments"] += 1
        u["native"] = u["native"] and r["native"]
    lin = pq.read_table(lineage).to_pylist()
    got = {
        r["unit"]: {k: r[k] for k in ("n_rows", "bytes_in", "bytes_out", "n_fragments", "native")}
        for r in lin
    }
    assert got == want
    assert len(lin) == len(want)  # one row per unit
    assert {(r["run_id"], r["status"], r["batch_tag"]) for r in lin} == {(m["run_id"], "ok", "t0")}
    assert len({r["committed_at"] for r in lin}) == 1  # one stamp per commit
    assert m["rows"] == N_ROWS == sum(u["n_rows"] for u in want.values())
    assert m["encoded_units"] == len(want)
    assert m["bytes_out"] == sum(u["bytes_out"] for u in want.values())


def test_calls_sharing_a_run_id_keep_both_commits(spark, webpages, tmp_path):
    """A config reused across calls keeps its run id; the second commit
    must add files, not replace the first commit's."""
    out = str(tmp_path / "b")
    cfg = _cfg(out, run_id="sharedrun", skip_completed=False)
    halves = [webpages.where(F.crc32("url") % 2 == i) for i in (0, 1)]
    encode_job(spark, halves[0], cfg)
    m = encode_job(spark, halves[1], cfg)
    assert len(_parquet_files(os.path.join(out, "data"))) == 2
    assert len(_parquet_files(os.path.join(out, "lineage"))) == 2
    assert m["rows"] == N_ROWS
    dec = decode_dataset(spark, out)
    assert dec.count() == N_ROWS
    assert dec.select("url").distinct().count() == N_ROWS


def _units_below(df, plan: EncodePlan, k: int):
    """The rows of ``df`` whose encode unit is < ``k``."""
    bjson = plan.to_json()

    def tag(iterator):
        p = EncodePlan.from_json(bjson)
        for batch in iterator:
            keys = np.asarray(batch.column("url").to_pylist(), dtype=object)
            yield batch.append_column("__unit", pa.array(assign_units(keys, p), type=pa.int64()))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInArrow(tag, schema + ", __unit long").where(F.col("__unit") < k).drop("__unit")


def test_crash_between_manifest_and_lineage_is_invisible_and_resumable(
    spark, webpages, webpages_parquet, tmp_path, monkeypatch
):
    out = str(tmp_path / "c")
    cfg = _cfg(out)
    plan = load_or_build_plan(webpages, cfg)
    k = plan.n_units // 2
    assert k >= 1
    first = _units_below(webpages, plan, k)
    n_first = first.count()
    encode_job(spark, first, cfg)

    # the next call dies after its manifest file landed, before lineage
    real_write = meta._write_parquet_file

    def crash_on_lineage(dir_path, name, tbl):
        if os.path.basename(dir_path.rstrip("/")) == "lineage":
            raise OSError("simulated crash before the lineage commit")
        real_write(dir_path, name, tbl)

    monkeypatch.setattr(meta, "_write_parquet_file", crash_on_lineage)
    with pytest.raises(OSError, match="simulated crash"):
        encode_parquet_job(spark, webpages_parquet, cfg)
    monkeypatch.setattr(meta, "_write_parquet_file", real_write)
    assert len(_parquet_files(os.path.join(out, "data"))) == 2  # orphan rows on disk

    assert decode_dataset(spark, out).count() == n_first
    sds.register(spark)
    assert spark.read.format("upe_encoded").load(out).count() == n_first

    m = encode_parquet_job(spark, webpages_parquet, cfg)
    assert m["resumed_units"] == k
    assert m["encoded_units"] == plan.n_units
    assert m["rows"] == N_ROWS
    dec = decode_dataset(spark, out)
    assert dec.count() == N_ROWS
    assert dec.select("url").distinct().count() == N_ROWS


def test_parquet_job_runs_one_spark_job_fresh_and_on_resume(spark, webpages_parquet, tmp_path):
    """Only the encode stage runs as a Spark job: the plan is sampled on
    the driver (fresh directory) or reloaded (resume), and the commit,
    the resume check and the returned totals read and write metadata
    with pyarrow."""
    out = str(tmp_path / "d")
    assert _spark_jobs(spark, lambda: encode_parquet_job(spark, webpages_parquet, _cfg(out))) == 1
    assert _spark_jobs(spark, lambda: encode_parquet_job(spark, webpages_parquet, _cfg(out))) == 1


def test_each_job_makes_one_broadcast(spark, webpages, webpages_parquet, tmp_path, monkeypatch):
    """Both encode jobs ship plan, resume set and work items, and a
    Spark-branch decode and a compaction their planned partitions, in ONE
    broadcast: a broadcast is unpickled once per worker, a task closure
    once per task."""
    out = str(tmp_path / "p")
    assert _broadcasts(monkeypatch, lambda: encode_parquet_job(spark, webpages_parquet, _cfg(out))) == 1
    frag = str(tmp_path / "f")
    for i in range(2):
        half = webpages.where(F.crc32(F.col("url")) % 2 == i)
        cfg = _cfg(frag, skip_completed=False)
        assert _broadcasts(monkeypatch, lambda: encode_job(spark, half, cfg)) == 1
    monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", 0)
    ev: dict = {}
    url = webpages.select("url").orderBy("url").first()[0]
    dec = lambda: decode_dataset(spark, out, filters=[("url", "<=", url)], pruning_evidence=ev)
    assert _broadcasts(monkeypatch, lambda: dec().count()) == 1
    assert ev["branch"] == "spark"
    rep: dict = {}
    assert _broadcasts(monkeypatch, lambda: rep.update(compact(spark, frag, chunk_rows=32768))) == 1
    assert rep["manifest_rewritten"]
    assert decode_dataset(spark, frag).count() == N_ROWS


def test_parquet_encode_and_compaction_run_off_sql(spark, webpages, webpages_parquet, tmp_path, monkeypatch):
    """The parquet encode stage and compaction's rewrite neither read nor
    return a DataFrame: a fresh encode, a resume and a compaction each
    run one Spark job and one broadcast, and no SQL execution."""

    def counts(fn):
        got = {}
        got["jobs"] = _spark_jobs(spark, lambda: got.update(
            broadcasts=_broadcasts(monkeypatch, lambda: got.update(sql=_sql_executions(spark, fn)))
        ))
        return got

    one_job = {"jobs": 1, "broadcasts": 1, "sql": 0}
    out = str(tmp_path / "p")
    assert counts(lambda: encode_parquet_job(spark, webpages_parquet, _cfg(out))) == one_job
    assert counts(lambda: encode_parquet_job(spark, webpages_parquet, _cfg(out))) == one_job
    frag = str(tmp_path / "f")
    for i in range(2):
        encode_job(spark, webpages.where(F.crc32(F.col("url")) % 2 == i), _cfg(frag, skip_completed=False))
    assert counts(lambda: compact(spark, frag, chunk_rows=32768)) == one_job
    assert decode_dataset(spark, frag).count() == N_ROWS


def test_every_commit_file_is_synced_before_its_rename(tmp_path, monkeypatch):
    """On local storage every file the commit protocol renames into place
    (manifest, lineage, ``plan.json``, the manifest pointer) is fsync'd
    while it still has its temp name — before the rename — and a task's
    payload file is fsync'd on close, so a crash can never leave a
    renamed file whose bytes never reached disk."""
    synced = []
    real_fsync = os.fsync

    def fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", fsync)
    out = os.path.realpath(str(tmp_path))
    frags = pa.Table.from_pylist(
        [
            dict(unit=0, first_key="a", n_rows=1, row_off=0, bytes_in=1, bytes_out=1,
                 wall_ms=0.0, codecs="{}", file="f.bin", offset=0, length=1, stats=None,
                 native=True)
        ],
        schema=meta.FRAG_PA_SCHEMA,
    )
    commit_id, _ = meta.commit_fragments(frags, out, os.path.join(out, "data"), "sync")
    meta._persist_plan(EncodePlan("url", [], [1]), out)
    meta.set_manifest_dir(out, "data")
    writer = meta._TaskPayloadWriter(os.path.join(out, "payload"))
    writer.write(b"payload")
    before_close = list(synced)
    writer.close()

    name = f"part-{commit_id}.parquet"
    renamed = {
        os.path.join(out, "data", f".tmp-{name}"): os.path.join(out, "data", name),
        os.path.join(out, "lineage", f".tmp-{name}"): os.path.join(out, "lineage", name),
        os.path.join(out, f"plan.json.tmp{os.getpid()}"): os.path.join(out, "plan.json"),
        os.path.join(out, f"manifest_current.tmp{os.getpid()}"): os.path.join(out, "manifest_current"),
    }
    assert sorted(before_close) == sorted(renamed)
    for tmp, final in renamed.items():
        assert not os.path.exists(tmp) and os.path.isfile(final)
    assert synced[len(before_close):] == [os.path.join(out, "payload", writer.name)]



def _frag_row(unit: int, stats=None) -> dict:
    return dict(unit=unit, first_key="a", n_rows=1, row_off=0, bytes_in=1, bytes_out=1,
                wall_ms=0.0, codecs="{}", file=f"f{unit}.bin", offset=0, length=1,
                stats=stats, native=True)


def _old_file(dir_path: str, name: str, tbl: pa.Table) -> None:
    """A metadata file written by an older engine version, named so it
    sorts before every ``part-<run>`` file the current commit writes."""
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(tbl, os.path.join(dir_path, name))


def test_lineage_files_that_differ_in_columns_keep_every_column(tmp_path):
    """A lineage dir written across engine versions: an old-format file
    (``unit, run_id, status``) listed first must not hide the current
    file's ``batch_tag`` and ``committed_at`` — a replayed stream epoch
    would commit twice, and the new run would sort at epoch 0."""
    out = str(tmp_path)
    old = pa.table({"unit": pa.array([0], pa.int64()), "run_id": ["old"], "status": ["ok"]})
    _old_file(os.path.join(out, "lineage"), "part-0old.parquet", old)
    frags = pa.Table.from_pylist([_frag_row(1)], schema=meta.FRAG_PA_SCHEMA)
    new, _ = meta.commit_fragments(frags, out, os.path.join(out, "data"), "new", "ds_epoch_q_0")

    assert meta.completed_batch_tags(out) == {"ds_epoch_q_0"}
    order = meta._committed_run_order(out)
    assert [r for _, r in order] == ["old", new]
    assert order[0][0] == 0 and order[1][0] > 0


def test_manifest_files_that_differ_in_columns_keep_every_column(tmp_path):
    """A manifest dir written across engine versions: an old file
    without ``stats`` listed first must not drop the column from the
    committed view, nor from vacuum's rewrite of the dir, which would
    make the loss permanent."""
    from universal_parquet_exporter_spark.encode.maintenance import vacuum

    out = str(tmp_path)
    data = os.path.join(out, "data")
    old = pa.Table.from_pylist([_frag_row(0)], schema=meta.FRAG_PA_SCHEMA).drop_columns(["stats"])
    _old_file(data, "part-0old.parquet", old.append_column("run_id", pa.array(["old"])))
    _old_file(
        os.path.join(out, "lineage"),
        "part-0old.parquet",
        pa.table({"unit": pa.array([0], pa.int64()), "run_id": ["old"], "status": ["ok"]}),
    )
    frags = pa.Table.from_pylist([_frag_row(1, '{"x": 1}')], schema=meta.FRAG_PA_SCHEMA)
    meta.commit_fragments(frags, out, data, "new")
    # rows of a run that died before its lineage commit: vacuum rewrites
    orphan = pa.Table.from_pylist([_frag_row(2, '{"y": 2}')], schema=meta.FRAG_PA_SCHEMA)
    _old_file(data, "part-1orphan.parquet", orphan.append_column("run_id", pa.array(["gone"])))

    def stats(tbl):
        return sorted(zip(tbl.column("unit").to_pylist(), tbl.column("stats").to_pylist()))

    assert stats(meta._committed_manifest(out)) == [(0, None), (1, '{"x": 1}')]
    rep = vacuum(None, out)
    assert rep["orphan_manifest_rows"] == 1 and rep["manifest_rewritten"]
    assert meta.manifest_dir(out).endswith("data_v1")
    assert stats(pq.read_table(meta.manifest_dir(out))) == [(0, None), (1, '{"x": 1}')]
    assert stats(meta._committed_manifest(out)) == [(0, None), (1, '{"x": 1}')]
