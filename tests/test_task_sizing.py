"""The engine's one task-sizing rule (:func:`scan._task_cuts`) and the
task counts every engine job takes from it: the parquet encode stage,
compaction, ``decode_dataset`` and the ``upe_encoded`` readers."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import _spark_tasks
from universal_parquet_exporter_spark.encode import meta
from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_parquet_job
from universal_parquet_exporter_spark.encode.scan import DEFAULT_PARTITION_BYTES, _task_cuts, decode_dataset
from universal_parquet_exporter_spark.fixtures.webpages import generate_batch
from universal_parquet_exporter_spark.sources import spark_datasource as sds

FILES, RG_PER_FILE, RG_ROWS = 4, 4, 200
CORES = 4  # the test session is local[4]
MB = 1 << 20
INF = float("inf")


def _sizes(cuts) -> list[int]:
    return np.diff(cuts).tolist()


def test_equal_weights_cut_into_equal_runs():
    assert _task_cuts([7] * 8, 4, INF).tolist() == [0, 2, 4, 6, 8]


def test_uneven_weights_balance_bytes_not_items():
    w = [3, 1, 1, 1, 3, 1, 1, 1]
    cuts = _task_cuts(w, 2, INF)
    assert cuts.tolist() == [0, 4, 8]
    assert [sum(w[s:e]) for s, e in zip(cuts[:-1], cuts[1:])] == [6, 6]


def test_an_item_heavier_than_a_share_takes_its_task_alone():
    cuts = _task_cuts([10, 1, 1, 1], 4, INF)
    assert cuts.tolist() == [0, 1, 4]
    assert min(_sizes(cuts)) > 0


def test_a_single_item_and_no_items():
    assert _task_cuts([5 * MB], CORES, DEFAULT_PARTITION_BYTES).tolist() == [0, 1]
    assert _task_cuts([], CORES, DEFAULT_PARTITION_BYTES).tolist() == [0, 0]


def test_map_tasks_with_no_target_is_the_task_count():
    assert _sizes(_task_cuts([1] * 16, 3, INF)) == [5, 6, 5]
    assert _sizes(_task_cuts([1] * 2, 3, INF)) == [1, 1]


def test_the_target_caps_task_bytes_above_the_parallelism():
    # 100 items of 4 MB: 400 MB over 64 MB tasks is 7 tasks, not 4
    cuts = _task_cuts([4 * MB] * 100, CORES, DEFAULT_PARTITION_BYTES)
    assert len(cuts) - 1 == 7
    assert _sizes(_task_cuts([1] * 10, 1, 3)) == [2, 3, 2, 3]


def test_bench_scale_inputs_get_one_task_per_core():
    # 8,000-row ingest: 4 row groups of about 1 MB stored
    ingest = [1.017 * MB, 1.036 * MB, 1.021 * MB, 1.030 * MB]
    assert _sizes(_task_cuts(ingest, CORES, DEFAULT_PARTITION_BYTES)) == [1, 1, 1, 1]
    # 128,000 rows: 16 row groups of about 4 MB (16 tasks before the rule)
    scale = np.full(16, 4.1 * MB) + np.arange(16) * 1000
    assert _sizes(_task_cuts(scale, CORES, DEFAULT_PARTITION_BYTES)) == [4, 4, 4, 4]


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    """16 row groups in 4 files, written by pyarrow."""
    d = str(tmp_path_factory.mktemp("sizing_in"))
    rows = RG_PER_FILE * RG_ROWS
    for i in range(FILES):
        tbl = pa.Table.from_batches([generate_batch(np.arange(i * rows, (i + 1) * rows))])
        pq.write_table(tbl, os.path.join(d, f"part-{i}.parquet"), row_group_size=RG_ROWS)
    return d


def _cfg(out, **kw):
    kw = {"target_unit_bytes": 256 << 10, "sample_rows": 1024, "chunk_rows": 128, **kw}
    return EncodeJobConfig(output_dir=str(out), **kw)


@pytest.fixture(scope="module")
def encoded(spark, pages_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sizing_out"))
    encode_parquet_job(spark, pages_dir, _cfg(out))
    return out


def _chunks(out) -> int:
    man = meta._committed_manifest(out)
    return len(set(zip(man.column("file").to_pylist(), man.column("offset").to_pylist())))


def test_parquet_encode_stage_runs_one_task_per_core(spark, pages_dir, tmp_path):
    assert spark.sparkContext.defaultParallelism == CORES
    fresh = _spark_tasks(spark, lambda: encode_parquet_job(spark, pages_dir, _cfg(tmp_path / "a")))
    assert fresh == CORES
    pinned = _spark_tasks(spark, lambda: encode_parquet_job(spark, pages_dir, _cfg(tmp_path / "b", map_tasks=3)))
    assert pinned == 3


def test_compaction_runs_one_task_per_core(spark, pages_dir, tmp_path):
    out = str(tmp_path)
    encode_parquet_job(spark, pages_dir, _cfg(out, map_tasks=16, chunk_rows=64))
    units = meta._committed_manifest(out).column("unit").unique()
    assert len(units) > CORES
    tasks = _spark_tasks(spark, lambda: compact(spark, out, chunk_rows=4096))
    assert tasks == CORES


def test_decode_dataset_runs_one_task_per_core(spark, encoded):
    assert _chunks(encoded) >= 8
    assert decode_dataset(spark, encoded).rdd.getNumPartitions() == CORES


def test_registered_reader_plans_one_partition_per_core(spark, encoded):
    sds.register(spark)
    assert _chunks(encoded) >= 8
    df = spark.read.format(sds.FORMAT_NAME).load(encoded)
    assert df.rdd.getNumPartitions() == CORES
    assert df.count() == FILES * RG_PER_FILE * RG_ROWS


def test_a_small_partition_target_still_raises_the_count(spark, encoded):
    """A 1-byte cap asks for a task per chunk; chunks heavier than an
    equal share merge their lighter neighbours, so fewer may result."""
    sds.register(spark)
    df = spark.read.format(sds.FORMAT_NAME).option("partition_target_bytes", "1").load(encoded)
    assert 2 * CORES < df.rdd.getNumPartitions() <= _chunks(encoded)


def test_a_reader_built_without_a_session_plans_by_bytes(encoded):
    """The base class carries parallelism 1: the reader plans
    ``ceil(live / target)`` partitions."""
    parts = sds._EncodedReader({"path": encoded}).partitions()
    assert len(parts) == 1
    live = sum(ch[2] for ch in parts[0].chunks)
    target = -(-live // 3)
    assert len(sds._EncodedReader({"path": encoded, "partition_target_bytes": str(target)}).partitions()) == 3


def test_stream_reader_plans_one_partition_per_core(encoded):
    stream = sds._EncodedStreamReader({"path": encoded}, CORES)
    assert len(stream.partitions(stream.initialOffset(), stream.latestOffset())) == CORES
