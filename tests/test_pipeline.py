"""Distributed encode-job tests: round-trip bit-identity, size vs the
Parquet/Snappy control, checkpointed resume, skew-aware planning.

These are the engine-level analogs of the reference's integration tests
(``/root/reference/tests/test_parquet_writer.py:38-58`` round-trip;
``examples/advanced_integration_example.py:80-114`` orchestration)."""

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from universal_parquet_exporter_spark.encode.meta import completed_units
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages
from universal_parquet_exporter_spark.plans.partitioning import EncodePlan, assign_units

N_ROWS = 8000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="upes_job_")
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


def test_encode_decode_bit_identical(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    metrics = encode_job(spark, webpages, cfg)
    assert metrics["rows"] == N_ROWS
    assert metrics["encoded_units"] == metrics["plan_units"]
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0  # byte-identical text per url


def test_compressed_size_beats_snappy_control(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    metrics = encode_job(spark, webpages, cfg)
    control_dir = os.path.join(outdir, "control")
    webpages.write.mode("overwrite").parquet(control_dir)  # snappy default = reference A8
    control_bytes = sum(
        os.path.getsize(os.path.join(control_dir, f))
        for f in os.listdir(control_dir)
        if f.endswith(".parquet")
    )
    assert metrics["bytes_out"] <= control_bytes, (
        f"encoded {metrics['bytes_out']} > control {control_bytes}"
    )


def test_resume_skips_completed_units(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    plan = load_or_build_plan(webpages, cfg)
    assert plan.n_units >= 2

    # simulate a partial run: encode only units < k, with lineage
    k = plan.n_units // 2
    bjson = plan.to_json()

    def tag(iterator):
        import pyarrow as pa

        p = EncodePlan.from_json(bjson)
        for batch in iterator:
            keys = np.asarray(batch.column("url").to_pylist(), dtype=object)
            units = assign_units(keys, p)
            yield batch.append_column("__unit", pa.array(units, type=pa.int64()))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in webpages.schema.fields)
    subset = (
        webpages.mapInArrow(tag, schema + ", __unit long")
        .where(F.col("__unit") < k)
        .drop("__unit")
    )
    m1 = encode_job(spark, subset, cfg)
    assert m1["encoded_units"] == k
    assert set(completed_units(outdir)) == set(range(k))

    # full rerun resumes: only the remaining units get encoded
    m2 = encode_job(spark, webpages, cfg)
    assert m2["resumed_units"] == k
    assert m2["encoded_units"] == plan.n_units  # totals from the sink

    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert dec.groupBy("url").count().where("count > 1").count() == 0  # exactly once
    assert _mismatches(webpages, dec) == 0


def test_plan_determinism_and_balance(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    p1 = load_or_build_plan(webpages, cfg)
    p2 = load_or_build_plan(webpages, cfg)  # must reload identical from disk
    assert p1.boundaries == p2.boundaries and p1.salts == p2.salts
    encode_job(spark, webpages, cfg)
    df = spark.read.parquet(os.path.join(outdir, "data")).select("unit", "bytes_in")
    sizes = np.array([r.bytes_in for r in df.collect()], dtype=float)
    cv = sizes.std() / sizes.mean()
    assert cv < 1.0, f"unit byte sizes too imbalanced (cv={cv:.2f}): {sorted(sizes)}"


def test_decode_column_pruning(spark, webpages, outdir):
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    dec = decode_dataset(spark, outdir, columns=["url", "lang"])
    assert dec.columns == ["url", "lang"]
    assert dec.count() == N_ROWS


@pytest.fixture(scope="module")
def webpages_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wp_parquet"))
    generate_webpages(spark, N_ROWS, partitions=4).write.mode("overwrite").parquet(d)
    return d


def test_parquet_job_bit_identical(spark, webpages, webpages_parquet, outdir):
    from universal_parquet_exporter_spark.encode.pipeline import encode_parquet_job

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    metrics = encode_parquet_job(spark, webpages_parquet, cfg)
    assert metrics["rows"] == N_ROWS
    assert metrics["encoded_units"] == metrics["plan_units"]
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0


def test_parquet_job_resume(spark, webpages, webpages_parquet, outdir):
    """A parquet-input run resumes over lineage written by a DataFrame-input
    run: unit identity is the plan's, not the input topology's."""
    from universal_parquet_exporter_spark.encode.pipeline import encode_parquet_job

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    plan = load_or_build_plan(webpages, cfg)
    k = plan.n_units // 2
    bjson = plan.to_json()

    def tag(iterator):
        import pyarrow as pa

        p = EncodePlan.from_json(bjson)
        for batch in iterator:
            keys = np.asarray(batch.column("url").to_pylist(), dtype=object)
            units = assign_units(keys, p)
            yield batch.append_column("__unit", pa.array(units, type=pa.int64()))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in webpages.schema.fields)
    subset = (
        webpages.mapInArrow(tag, schema + ", __unit long")
        .where(F.col("__unit") < k)
        .drop("__unit")
    )
    m1 = encode_job(spark, subset, cfg)
    assert m1["encoded_units"] == k

    m2 = encode_parquet_job(spark, webpages_parquet, cfg)
    assert m2["resumed_units"] == k
    assert m2["encoded_units"] == plan.n_units
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert dec.groupBy("url").count().where("count > 1").count() == 0
    assert _mismatches(webpages, dec) == 0


def test_orphan_fragments_ignored(spark, webpages, outdir):
    """Fragments whose run never reached the lineage commit (crash between
    data write and lineage write) are invisible to decode."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=2 << 20)
    encode_job(spark, webpages, cfg)
    data_dir = os.path.join(outdir, "data")
    # simulate the torn run: re-append this run's fragments under a run_id
    # that has no lineage rows
    orphans = spark.read.parquet(data_dir).withColumn("run_id", F.lit("deadbeef0000"))
    orphans.write.mode("append").option("compression", "uncompressed").parquet(data_dir)

    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS  # orphans not double-read
    assert _mismatches(webpages, dec) == 0


def test_uri_scheme_output_dir(spark, webpages, outdir):
    """`file://` output dirs exercise the pyarrow.fs payload/metadata
    routing (the same code path hdfs:// and s3:// take): plan persist +
    reload, payload writes, resume bookkeeping, and decode all work
    through the resolved filesystem."""
    uri = "file://" + outdir
    cfg = EncodeJobConfig(output_dir=uri, target_unit_bytes=2 << 20)
    metrics = encode_job(spark, webpages, cfg)
    assert metrics["rows"] == N_ROWS
    plan = load_or_build_plan(webpages, cfg)  # must reload via fs, not rebuild
    assert plan.n_units == metrics["plan_units"]
    assert set(completed_units(uri)) == set(range(plan.n_units))
    dec = decode_dataset(spark, uri, columns=["url", "text"])
    assert dec.columns == ["url", "text"]
    assert dec.count() == N_ROWS
    assert _mismatches_cols(webpages, dec) == 0


def test_plain_relative_and_file_uri_paths_resolve_alike(tmp_path, monkeypatch):
    """A relative path, its absolute form and its ``file://`` URI name
    the same dataset: each resolves to ``LocalFileSystem`` at the same
    absolute path, and whatever one form writes (pointer, version dir,
    plan, metadata file) every form reads back identically."""
    from pyarrow import fs as pafs

    from universal_parquet_exporter_spark.encode import meta

    monkeypatch.chdir(tmp_path)
    absd = str(tmp_path / "ds")
    forms = ["ds", absd, "file://" + absd]
    for p in forms:
        fs, root = meta._payload_fs(p)
        assert isinstance(fs, pafs.LocalFileSystem)
        assert root == absd

    tbl = pa.table({"unit": [1, 2], "run_id": ["a", "b"]})
    for i, p in enumerate(forms):
        name = f"data_v{i + 1}"
        meta.set_manifest_dir(p, name)
        meta._write_parquet_file(os.path.join(p, name), "part-x.parquet", tbl)
        plan = EncodePlan("url", [f"k{i}"], [1, 2])
        meta._persist_plan(plan, p)
        for q in forms:
            mdir = meta.manifest_dir(q)
            assert meta._payload_fs(mdir)[1] == os.path.join(absd, name)
            assert meta.next_manifest_name(q) == f"data_v{i + 2}"
            assert meta._load_plan(q).to_json() == plan.to_json()
            names = meta._meta_names(mdir)
            assert meta._read_meta_table(mdir, tbl.schema, None, names).equals(tbl)


def _mismatches_cols(df, dec):
    j = df.alias("a").join(dec.alias("b"), "url", "full")
    return j.where(~F.col("a.text").eqNullSafe(F.col("b.text"))).count()


def test_iceberg_input_format_via_manifest_mock(spark, webpages, webpages_parquet, outdir, monkeypatch):
    """`input_format="iceberg"`: the work-list comes from the table's
    `.files` metadata table (mocked here the way `read_jdbc` is tested
    without a database — no Iceberg catalog exists in this sandbox) as
    whole-file items, and tasks expand row groups themselves.  The full
    encode+decode round trip must match the directory-scan path."""
    import pyarrow.parquet as pq

    from universal_parquet_exporter_spark.encode.pipeline import encode_parquet_job

    files = sorted(
        os.path.join(webpages_parquet, f)
        for f in os.listdir(webpages_parquet)
        if f.endswith(".parquet")
    )
    meta = spark.createDataFrame(
        [(f, pq.ParquetFile(f).metadata.num_rows, 0, os.path.getsize(f)) for f in files],
        "file_path string, record_count long, content int, file_size_in_bytes long",
    )
    seen_sql = {}

    def fake_sql(query, *a, **kw):
        seen_sql["q"] = query
        return meta

    monkeypatch.setattr(spark, "sql", fake_sql)
    cfg = EncodeJobConfig(
        output_dir=outdir, target_unit_bytes=2 << 20, input_format="iceberg"
    )
    metrics = encode_parquet_job(spark, "warehouse.web.pages", cfg)
    assert (
        seen_sql["q"]
        == "SELECT file_path, record_count, content, file_size_in_bytes FROM warehouse.web.pages.files"
    )
    assert metrics["rows"] == N_ROWS
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0


def test_iceberg_input_rejects_merge_on_read_deletes(spark, webpages_parquet, outdir, monkeypatch):
    """A v2 merge-on-read snapshot carries delete files (content=1/2);
    scanning its data files directly would resurrect deleted rows, so the
    job must fail fast with an actionable message instead of encoding."""
    import pytest

    from universal_parquet_exporter_spark.encode.pipeline import encode_parquet_job

    files = sorted(
        os.path.join(webpages_parquet, f)
        for f in os.listdir(webpages_parquet)
        if f.endswith(".parquet")
    )
    rows = [(f, 100, 0, 4096) for f in files] + [("s3://wh/deletes/pos-00.parquet", 7, 1, 512)]
    meta = spark.createDataFrame(rows, "file_path string, record_count long, content int, file_size_in_bytes long")
    monkeypatch.setattr(spark, "sql", lambda q, *a, **kw: meta)
    cfg = EncodeJobConfig(
        output_dir=outdir, target_unit_bytes=2 << 20, input_format="iceberg"
    )
    with pytest.raises(ValueError, match="delete file"):
        encode_parquet_job(spark, "warehouse.web.pages", cfg)


def test_resume_membership_searchsorted_equivalence_and_speed():
    """The resume skip uses sorted-searchsorted membership
    (`_resume_keep_mask` — the broadcast done-list arrives sorted).
    Property: identical keep-mask to np.isin for arbitrary unit/done
    sets incl. empty lists and units beyond the last done id; plus a
    micro-benchmark at the 100 TB shape (~1.6M done units, 64k-row
    batches) with a deliberately loose bound (the property is "no hash
    table rebuilt per batch", not a precise ratio on a shared host)."""
    import time as _time

    from universal_parquet_exporter_spark.encode.pipeline import _resume_keep_mask

    rng = np.random.default_rng(7)
    for trial in range(50):
        done = np.unique(rng.integers(0, 2000, size=rng.integers(0, 64))).astype(np.int64)
        units = rng.integers(0, 2100, size=rng.integers(1, 512)).astype(np.int64)
        expect = ~np.isin(units, done)
        got = _resume_keep_mask(units, done)
        assert np.array_equal(got, expect), (trial, units, done)

    done = np.arange(0, 3_200_000, 2, dtype=np.int64)  # 1.6M sorted ids
    units = rng.integers(0, 3_300_000, size=65536).astype(np.int64)
    t0 = _time.perf_counter()
    for _ in range(5):
        keep_ss = _resume_keep_mask(units, done)
    t_ss = _time.perf_counter() - t0
    t0 = _time.perf_counter()
    for _ in range(5):
        keep_isin = ~np.isin(units, done)
    t_isin = _time.perf_counter() - t0
    assert np.array_equal(keep_ss, keep_isin)
    # measured ~5-10x faster here; 10x slack absorbs scheduler noise
    assert t_ss < t_isin * 10, f"searchsorted {t_ss:.3f}s vs isin {t_isin:.3f}s"


def test_units_for_key_range_superset_property():
    """Every key inside [lo, hi] must be assigned to a unit the pruner
    keeps (conservative-superset contract), including hash-salted hot
    buckets and prefix-truncation edge cases."""
    from universal_parquet_exporter_spark.plans.partitioning import (
        EncodePlan,
        units_for_key_range,
    )

    plan = EncodePlan("url", ["f", "m", "s"], [1, 3, 1, 2])
    rng = np.random.default_rng(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    keys = np.array(
        ["".join(rng.choice(list(alphabet), size=rng.integers(1, 60))) for _ in range(500)],
        dtype=object,
    )
    units = assign_units(keys, plan)
    for lo, hi in [("c", "p"), ("a", "a"), ("m", "m"), (None, "g"), ("t", None), (None, None)]:
        kept = set(units_for_key_range(plan, lo, hi))
        in_range = [
            i for i, k in enumerate(keys)
            if (lo is None or k >= lo) and (hi is None or k <= hi)
        ]
        missing = [keys[i] for i in in_range if units[i] not in kept]
        assert not missing, (lo, hi, missing[:5])
    assert set(units_for_key_range(plan, None, None)) == set(range(plan.n_units))


def test_decode_key_range_prunes_units(spark, webpages, outdir):
    """Key-range decode through key-column filters: exact rows AND fewer
    manifest rows scanned than the full decode (whole units skipped
    before any payload read)."""
    from universal_parquet_exporter_spark.encode.meta import _load_plan
    from universal_parquet_exporter_spark.plans.partitioning import units_for_key_range

    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=1 << 20)
    encode_job(spark, webpages, cfg)
    plan = _load_plan(outdir)
    assert plan.n_units >= 3
    bnd = plan.boundaries
    lo, hi = bnd[0], bnd[1]  # a range spanning ~one bucket
    kept = units_for_key_range(plan, lo, hi)
    assert 0 < len(kept) < plan.n_units

    key_range = [("url", ">=", lo), ("url", "<=", hi)]
    got = decode_dataset(spark, outdir, filters=key_range)
    expect = webpages.where((F.col("url") >= lo) & (F.col("url") <= hi))
    assert got.count() == expect.count()
    assert _mismatches(expect, got) == 0

    manifest = spark.read.parquet(os.path.join(outdir, "data"))
    scanned = manifest.where(F.col("unit").isin(kept)).count()
    assert scanned < manifest.count()

    with pytest.raises(ValueError, match="filters need column 'url'"):
        decode_dataset(spark, outdir, columns=["lang"], filters=key_range)


def test_encode_stream_buffer_is_bounded_and_exact():
    """The stream must flush chunk waves as the buffer crosses
    max_buffer_bytes: peak buffered bytes stays ~cap + one input batch
    regardless of input size (the 100 TB task-memory rule), and the
    decoded union of all emitted chunks is exactly the input."""
    import tempfile

    from universal_parquet_exporter_spark.encode.container import deserialize_chunk
    from universal_parquet_exporter_spark.encode.pipeline import _encode_stream
    from universal_parquet_exporter_spark.plans.partitioning import EncodePlan

    rng = np.random.default_rng(5)
    plan = EncodePlan("k", ["g", "r"], [1, 2, 1])  # 4 units incl. a salted bucket
    n_batches, rows_per = 64, 512
    batches = []
    all_rows = set()
    for bi in range(n_batches):
        ks = [f"{chr(97 + int(c))}{bi:03d}_{i:04d}" for i, c in enumerate(rng.integers(0, 26, rows_per))]
        txt = ["x" * int(t) for t in rng.integers(50, 400, rows_per)]
        batches.append(pa.record_batch({"k": pa.array(ks), "text": pa.array(txt)}))
        all_rows.update(zip(ks, txt))
    total_in = sum(b.nbytes for b in batches)
    cap = total_in // 10  # force ~10 flush waves
    pdir = tempfile.mkdtemp(prefix="upes_bound_")
    try:
        stats: dict = {}
        manifest = list(
            _encode_stream(
                iter(batches), plan, np.array([], dtype=np.int64), "k", pdir,
                chunk_rows=1024, max_buffer_bytes=cap, stats=stats,
            )
        )
        max_batch = max(b.nbytes for b in batches)
        assert stats["flush_waves"] >= 5
        assert stats["peak_buffer_bytes"] <= cap + max_batch
        # reassemble every chunk slice and compare the row multiset
        got = set()
        rows = pa.Table.from_batches(manifest).to_pylist()
        seen_chunks = {}
        for r in rows:
            key = (r["file"], r["offset"])
            if key not in seen_chunks:
                with open(os.path.join(pdir, r["file"]), "rb") as f:
                    f.seek(r["offset"])
                    seen_chunks[key] = deserialize_chunk(f.read(r["length"]))
            sl = seen_chunks[key].slice(r["row_off"], r["n_rows"])
            got.update(zip(sl.column("k").to_pylist(), sl.column("text").to_pylist()))
        assert got == all_rows
        # several manifest rows per unit across waves (fragments), yet
        # chunk sizes stayed at the chunk_rows granularity, not 1-row dust
        per_unit = {}
        for r in rows:
            per_unit[r["unit"]] = per_unit.get(r["unit"], 0) + 1
        assert max(per_unit.values()) >= 5
    finally:
        shutil.rmtree(pdir, ignore_errors=True)


def test_encode_job_capped_buffer_roundtrip(spark, webpages, outdir):
    """End-to-end with a deliberately tiny per-task buffer: the job must
    produce multiple fragments per unit (flush waves) and decode
    bit-identically — same contract as the uncapped path."""
    cfg = EncodeJobConfig(
        output_dir=outdir, target_unit_bytes=4 << 20, max_buffer_bytes=1 << 20
    )
    metrics = encode_job(spark, webpages, cfg)
    assert metrics["rows"] == N_ROWS
    lineage = spark.read.parquet(os.path.join(outdir, "lineage"))
    frq = lineage.agg(F.max("n_fragments")).collect()[0][0]
    assert frq >= 2  # waves produced per-unit fragments
    dec = decode_dataset(spark, outdir)
    assert dec.count() == N_ROWS
    assert _mismatches(webpages, dec) == 0


def test_decode_filters_zone_map_pruning(spark, outdir):
    """Per-chunk min/max zone maps (the parquet row-group-stats analog):
    a numeric/string predicate prunes chunks whose recorded bounds can't
    match BEFORE any payload read, the residual keeps results exact, and
    conjunctions compose."""
    rows = [(f"k{i:06d}", i, "en" if i % 3 else "de", "x" * 50) for i in range(20000)]
    df = spark.createDataFrame(rows, "url string, n long, lang string, pad string")
    cfg = EncodeJobConfig(
        output_dir=outdir, key_col="url", size_cols=("pad",),
        target_unit_bytes=64 << 10, chunk_rows=2048,
    )
    encode_job(spark, df, cfg)
    manifest = spark.read.parquet(os.path.join(outdir, "data"))
    total = manifest.count()
    assert "stats" in manifest.columns

    got = decode_dataset(spark, outdir, filters=[("n", ">=", 19000)])
    assert got.count() == 1000
    assert got.agg(F.min("n")).collect()[0][0] == 19000
    # pruning evidence: few chunks can contain n >= 19000 (keys sort by
    # url == by n, so chunk ranges are disjoint)
    import json as _json

    qualifying = sum(
        1 for r in manifest.select("stats").collect()
        if _json.loads(r.stats)["n"][1] >= 19000
    )
    assert qualifying < total // 4

    # string bound + conjunction; exactness vs the source
    both = decode_dataset(
        spark, outdir, filters=[("url", ">=", "k018000"), ("n", "<", 18500)]
    )
    expect = df.where((F.col("url") >= "k018000") & (F.col("n") < 18500))
    assert both.count() == expect.count() == 500

    # equality + column pruning together (filter col must be requested)
    eq = decode_dataset(spark, outdir, columns=["url", "n"], filters=[("n", "==", 7)])
    assert [r.url for r in eq.collect()] == ["k000007"]
    with pytest.raises(ValueError, match="in columns"):
        decode_dataset(spark, outdir, columns=["url"], filters=[("n", "==", 7)])
    with pytest.raises(ValueError, match="filter op"):
        decode_dataset(spark, outdir, filters=[("n", "~", 7)])
    # != is supported (r5): exact through the residual even where no
    # distinct set can prune (n is high-cardinality)
    ne = decode_dataset(spark, outdir, filters=[("n", "!=", 7)])
    assert ne.count() == df.count() - 1
    with pytest.raises(ValueError, match="not in dataset"):
        decode_dataset(spark, outdir, filters=[("nope", ">", 1)])


def test_decode_filters_backcompat_without_stats(spark, outdir):
    """Datasets encoded before zone maps existed (no stats column) must
    decode with filters — residual only, no pruning, exact results."""
    rows = [(f"k{i:04d}", i) for i in range(3000)]
    df = spark.createDataFrame(rows, "url string, n long")
    cfg = EncodeJobConfig(output_dir=outdir, key_col="url", size_cols=(), target_unit_bytes=1 << 20)
    encode_job(spark, df, cfg)
    data_dir = os.path.join(outdir, "data")
    legacy = spark.read.parquet(data_dir).drop("stats").cache()
    legacy.count()
    shutil.rmtree(data_dir)
    legacy.write.parquet(data_dir)
    legacy.unpersist()

    got = decode_dataset(spark, outdir, filters=[("n", "<", 100)])
    assert got.count() == 100


def test_encode_job_decimal_column_roundtrip(spark, outdir):
    """DECIMAL(10,2) through the whole distributed pipeline (the
    reference's money type, tests/test_query_executor_realDB.py:98):
    encode_job → decode_dataset must reproduce values exactly, and the
    chunk layer must have routed them as scaled ints (dscale)."""
    import decimal as _d
    import json as _json

    rows = [(f"k{i:05d}", _d.Decimal(i * 7919 % 100000).scaleb(-2), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "url string, price decimal(10,2), n long")
    cfg = EncodeJobConfig(output_dir=outdir, key_col="url", size_cols=(), target_unit_bytes=1 << 20)
    metrics = encode_job(spark, df, cfg)
    assert metrics["rows"] == 4000
    dec = decode_dataset(spark, outdir)
    assert dec.schema["price"].dataType.simpleString() == "decimal(10,2)"
    joined = df.alias("a").join(dec.alias("b"), "url")
    bad = joined.where(~F.col("a.price").eqNullSafe(F.col("b.price"))).count()
    assert bad == 0 and joined.count() == 4000
    codecs = _json.loads(
        spark.read.parquet(os.path.join(outdir, "data")).select("codecs").first().codecs
    )
    assert codecs["price"] == "dscale"


def test_units_for_key_range_non_ascii_prefix_boundary():
    """Keys whose UTF-8 bytes straddle the KEY_WIDTH prefix (multibyte
    codepoint cut mid-sequence by truncation) must still satisfy the
    conservative-superset contract — bytewise prefix order is what both
    the planner and the pruner compare, and UTF-8 byte order equals
    codepoint order, so Python string ranges agree."""
    from universal_parquet_exporter_spark.plans.partitioning import (
        KEY_WIDTH,
        EncodePlan,
        units_for_key_range,
    )

    stem = "a" * (KEY_WIDTH - 1)  # 47 ascii bytes: 2-byte chars straddle byte 48
    keys = np.array(
        [stem + s for s in ["b", "z", "é", "émore", "日本", "日記", "àtail", ""]]
        + ["bare", "日本語のキーがとても長い場合でも正しく動く" * 3],
        dtype=object,
    )
    plan = EncodePlan("url", [stem + "d", stem + "é", "日本"], [1, 2, 1, 1])
    units = assign_units(keys, plan)
    ranges = [
        (stem + "a", stem + "é"),
        (stem + "é", stem + "￿"),
        ("日", "日￿"),
        (stem + "é", stem + "é"),  # lo == hi on a truncated-prefix key
        (None, "日本"),
    ]
    for lo, hi in ranges:
        kept = set(units_for_key_range(plan, lo, hi))
        for i, k in enumerate(keys):
            if (lo is None or k >= lo) and (hi is None or k <= hi):
                assert units[i] in kept, (lo, hi, k)


def test_decode_key_range_empty_and_inverted(spark, webpages, outdir):
    """A range matching nothing (inverted lo>hi, or beyond all keys) must
    return a correctly-TYPED empty DataFrame — the schema probe reads the
    committed manifest, not the pruned one."""
    cfg = EncodeJobConfig(output_dir=outdir, target_unit_bytes=1 << 20)
    encode_job(spark, webpages, cfg)
    full = decode_dataset(spark, outdir)

    inverted = decode_dataset(spark, outdir, filters=[("url", ">=", "zzz"), ("url", "<=", "aaa")])
    assert inverted.schema == full.schema
    assert inverted.count() == 0

    beyond = decode_dataset(spark, outdir, filters=[("url", ">=", "￿")])
    assert beyond.schema == full.schema
    assert beyond.count() == 0

    # lo == hi on an existing key: exactly that url's rows
    one = webpages.select("url").orderBy("url").limit(1).collect()[0].url
    got = decode_dataset(spark, outdir, filters=[("url", ">=", one), ("url", "<=", one)])
    assert got.count() == webpages.where(F.col("url") == one).count()

    # column pruning COMBINED with key-range pruning: both prunes apply,
    # values exact
    from universal_parquet_exporter_spark.encode.meta import _load_plan

    plan = _load_plan(outdir)
    lo, hi = plan.boundaries[0], plan.boundaries[-1]
    sub = decode_dataset(
        spark, outdir, columns=["url", "lang"], filters=[("url", ">=", lo), ("url", "<=", hi)]
    )
    assert sub.columns == ["url", "lang"]
    expect = webpages.where((F.col("url") >= lo) & (F.col("url") <= hi)).select("url", "lang")
    assert sub.count() == expect.count()
    j = expect.alias("a").join(sub.alias("b"), "url")
    assert j.where(~F.col("a.lang").eqNullSafe(F.col("b.lang"))).count() == 0


def test_encode_parquet_job_tasks_read_several_row_groups(spark, tmp_path):
    """Six single-row-group files over three map tasks: each task reads
    two row groups in turn from the broadcast work list, and the decoded
    dataset equals the source, with every planned unit encoded."""
    from universal_parquet_exporter_spark.encode.pipeline import (
        EncodeJobConfig,
        encode_parquet_job,
    )
    from universal_parquet_exporter_spark.encode.scan import decode_dataset

    src = str(tmp_path / "src")
    generate_webpages(spark, 3000, partitions=6).write.parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 6
    out = str(tmp_path / "out")
    m = encode_parquet_job(spark, src, EncodeJobConfig(output_dir=out, map_tasks=3))
    dec = decode_dataset(spark, out)
    got = sorted(tuple(r) for r in dec.collect())
    want = sorted(tuple(r) for r in spark.read.parquet(src).select(*dec.columns).collect())
    assert len(got) == 3000
    assert got == want
    assert m["encoded_units"] == m["plan_units"]
