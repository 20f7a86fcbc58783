"""The parquet-path planner (:func:`load_or_build_plan_parquet`): a
driver-side sample of at most 16 row groups, no Spark job, a pinned
``plan.json``, and bad input rejected before any Spark job."""

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import _spark_jobs
from universal_parquet_exporter_spark.encode import meta
from universal_parquet_exporter_spark.encode.compaction import compact
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    _parquet_work_items,
    encode_job,
    encode_parquet_job,
    load_or_build_plan,
    load_or_build_plan_parquet,
)
from universal_parquet_exporter_spark.fixtures.webpages import generate_batch
from universal_parquet_exporter_spark.plans.partitioning import assign_units_arrow

FILES, FILE_ROWS, RG_ROWS = 4, 1280, 160

# plan.json for the fixture below (32 row groups: every second one
# picked, every second row of each sampled).  Unit boundaries, and so
# every payload byte, follow from it: it must not change byte for byte.
_PINNED_PLAN = (
    '{"key_col": "url", "boundaries": ['
    '"https://host0000.example0.com/877d/877d42/6", '
    '"https://host0001.example1.com/1e5c/1e5c9d/1e5c9d", '
    '"https://host0002.example2.com/a944/a94495/12fe", '
    '"https://host0005.example5.com/942a/942a8b/e24", '
    '"https://host0015.example1.com/6ec6/c9c", '
    '"https://host0047.example5.com/90c0/1ba", '
    '"https://host0164.example3.com/fe42/118e"], '
    '"salts": [1, 1, 1, 1, 1, 1, 1, 1]}'
)


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    """4 files of 8 row groups, written by pyarrow so the row-group
    layout is fixed (no Spark writer ordering)."""
    d = str(tmp_path_factory.mktemp("plan_in"))
    for i in range(FILES):
        ids = np.arange(i * FILE_ROWS, (i + 1) * FILE_ROWS)
        tbl = pa.Table.from_batches([generate_batch(ids)])
        pq.write_table(tbl, os.path.join(d, f"part-{i}.parquet"), row_group_size=RG_ROWS)
    return d


def _cfg(out, **kw):
    kw = {"target_unit_bytes": 1 << 20, "sample_rows": 1024, **kw}
    return EncodeJobConfig(output_dir=str(out), **kw)


def _plan_json(out):
    with open(os.path.join(str(out), "plan.json")) as f:
        return f.read()


def test_parquet_plan_json_is_pinned(spark, pages_dir, tmp_path):
    encode_parquet_job(spark, pages_dir, _cfg(tmp_path))
    assert _plan_json(tmp_path) == _PINNED_PLAN


def _keyed_frame(spark):
    """A seeded string-keyed frame: duplicate keys, one hot key heavy
    enough to be salted, a non-ASCII key longer than KEY_WIDTH
    characters, and a null key."""
    rng = np.random.default_rng(18)
    pool = [f"https://h{i % 7}.example/{i:05x}" for i in range(90)]
    keys = list(rng.choice(pool, 400)) + ["https://hot.example/"] * 40
    keys += ["https://例え.jp/" + "ü" * 60] * 20 + [None] * 20
    sizes = rng.integers(0, 3000, len(keys))
    sizes[400:] = 20_000
    rows = [(k, "x" * int(n)) for k, n in zip(keys, sizes)]
    return spark.createDataFrame(rows, "url string, text string")


# plan.json the DataFrame planner builds for _keyed_frame: the whole
# frame is its sample, the null key plans as 'None', and the long
# non-ASCII key cuts at 48 characters
_PINNED_FRAME_PLAN = (
    '{"key_col": "url", "boundaries": ["None", '
    '"https://h0.example/00038", "https://h1.example/00024", '
    '"https://h1.example/00055", "https://h2.example/00041", '
    '"https://h3.example/0001f", "https://h4.example/00004", '
    '"https://h4.example/00043", "https://h5.example/0003d", '
    '"https://h6.example/0003e", "https://hot.example/", '
    '"https://\\u4f8b\\u3048.jp/' + "\\u00fc" * 34 + '"], '
    '"salts": [1, 4, 1, 1, 1, 1, 1, 1, 1, 1, 1, 7, 4]}'
)


def test_dataframe_plan_json_is_pinned(spark, tmp_path):
    load_or_build_plan(_keyed_frame(spark), _cfg(tmp_path, target_unit_bytes=64 << 10))
    assert _plan_json(tmp_path) == _PINNED_FRAME_PLAN


def test_parquet_plan_runs_no_spark_job(spark, pages_dir, tmp_path):
    items, total = _parquet_work_items(pages_dir)
    cfg = _cfg(tmp_path)
    assert _spark_jobs(spark, lambda: load_or_build_plan_parquet(items, total, cfg)) == 0
    assert _plan_json(tmp_path) == _PINNED_PLAN


def test_parquet_plan_skips_size_columns_the_input_lacks(spark, pages_dir, tmp_path):
    encode_parquet_job(spark, pages_dir, _cfg(tmp_path / "a", size_cols=("text",)))
    encode_parquet_job(spark, pages_dir, _cfg(tmp_path / "b", size_cols=("text", "nope")))
    assert _plan_json(tmp_path / "b") == _plan_json(tmp_path / "a")


def test_parquet_plan_counts_8_bytes_a_row_without_size_columns(spark, pages_dir, tmp_path):
    """With no size column every row counts 8 bytes, so a target of a
    quarter of ``8 * rows`` cuts the keys into 4 row-balanced units."""
    n = FILES * FILE_ROWS
    cfg = _cfg(tmp_path, size_cols=(), target_unit_bytes=8 * n // 4)
    m = encode_parquet_job(spark, pages_dir, cfg)
    assert m["plan_units"] == 4 and m["rows"] == n
    items, total = _parquet_work_items(pages_dir)
    plan = load_or_build_plan_parquet(items, total, cfg)
    keys = pq.read_table(pages_dir, columns=["url"]).column("url")
    counts = np.bincount(assign_units_arrow(keys, plan), minlength=4)
    assert counts.min() > 0.15 * n and counts.max() < 0.35 * n, counts


def test_parquet_job_rejects_a_missing_key_column_before_any_spark_job(spark, pages_dir, tmp_path):
    def run():
        with pytest.raises(ValueError, match="key column 'nope'"):
            encode_parquet_job(spark, pages_dir, _cfg(tmp_path, key_col="nope"))

    assert _spark_jobs(spark, run) == 0
    assert not os.path.exists(os.path.join(str(tmp_path), "plan.json"))


@pytest.mark.parametrize("path", ["parquet", "dataframe"])
def test_encode_jobs_report_plan_time(spark, pages_dir, tmp_path, path):
    t0 = time.perf_counter()
    if path == "parquet":
        m = encode_parquet_job(spark, pages_dir, _cfg(tmp_path))
    else:
        m = encode_job(spark, spark.read.parquet(pages_dir), _cfg(tmp_path))
    wall = time.perf_counter() - t0
    assert 0 <= m["plan_sec"] <= wall
    assert m["plan_sec"] + m["encode_stage_sec"] <= wall


def _slice_digest(out) -> tuple[int, str]:
    """(slices, sha256) of a dataset's committed slices: each slice's
    ``(unit, row_off, n_rows, first_key)``, the sha256 of its chunk's
    payload bytes and its stats JSON, in key order."""
    cols = ["unit", "run_id", "row_off", "n_rows", "first_key", "file", "offset", "length", "stats"]
    rows = []
    for r in meta._read_manifest(str(out), cols).to_pylist():
        with meta._open_payload(os.path.join(str(out), "payload"), r["file"]) as fh:
            fh.seek(r["offset"])
            payload = hashlib.sha256(fh.read(r["length"])).hexdigest()
        rows.append([r["unit"], r["row_off"], r["n_rows"], r["first_key"], payload, r["stats"]])
    return len(rows), hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


# the fixture's encode (4 map tasks, 256-row chunks) and its compaction:
# which engine job runs the stage must not change a byte
_PINNED_ENCODE = (32, "43ba0104f0fbc6a04924095a06b7ac2ec967b7c50806d8de79e103e8b2598689")
_PINNED_COMPACTION = (8, "04854f9bde202184d384d4ea804eff8383624724053b80132ad40fef17d71ec8")


def test_parquet_encode_writes_pinned_bytes(spark, pages_dir, tmp_path):
    encode_parquet_job(spark, pages_dir, _cfg(tmp_path, map_tasks=4, chunk_rows=256))
    assert _plan_json(tmp_path) == _PINNED_PLAN
    assert _slice_digest(tmp_path) == _PINNED_ENCODE


def test_compaction_writes_pinned_bytes(spark, pages_dir, tmp_path):
    """Every unit holds a slice from each of the 4 map tasks; compaction
    merges them into one chunk run per unit."""
    encode_parquet_job(spark, pages_dir, _cfg(tmp_path, map_tasks=4, chunk_rows=256))
    assert compact(spark, str(tmp_path), chunk_rows=4096)["manifest_rewritten"]
    assert _slice_digest(tmp_path) == _PINNED_COMPACTION
