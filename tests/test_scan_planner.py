"""The one scan planner (:mod:`universal_parquet_exporter_spark.encode.scan`):
``decode_dataset`` plans on the driver and runs as one Spark job, the
planner's manifest cache follows commits exactly, and both scan paths —
``decode_dataset``, which prunes, and the ``upe_encoded`` reader, which
Spark filters — return the rows a plain Spark filter of the source
returns."""

import dataclasses
import json
import os
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from tests.conftest import _spark_jobs
from universal_parquet_exporter_spark.encode import meta, scan
from universal_parquet_exporter_spark.encode.meta import _load_plan, manifest_dir
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages
from universal_parquet_exporter_spark.plans.partitioning import units_for_key_range
from universal_parquet_exporter_spark.sources import spark_datasource as sds

# ---------------------------------------------------------------------------
# one Spark job per decode, evidence from the planner's masks
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scan_pages") / "enc")
    df = generate_webpages(spark, 3000, partitions=4).cache()
    encode_job(
        spark, df, EncodeJobConfig(output_dir=out, target_unit_bytes=256 << 10, chunk_rows=256)
    )
    yield df, out
    df.unpersist()


def test_decode_dataset_runs_one_spark_job(spark, pages, monkeypatch):
    """Full, filtered and evidence-carrying decodes each run exactly one
    Spark job on both branches: planning, pruning and the evidence counts
    read metadata with pyarrow on the driver, and the driver branch hands
    Spark its survivors as a local relation."""
    df, out = pages
    urls = sorted(r.url for r in df.select("url").collect())
    lo, hi = urls[len(urls) // 4], urls[len(urls) // 2]
    terms = [("url", ">=", lo), ("url", "<", hi)]
    want = df.where((F.col("url") >= lo) & (F.col("url") < hi)).count()
    plan = _load_plan(out)
    units = set(units_for_key_range(plan, lo, hi))
    rows = [r for r in pq.read_table(manifest_dir(out)).to_pylist() if r["unit"] in units]

    def chunk_may_match(stats):
        mn, mx = json.loads(stats)["url"]
        return (mx is None or mx >= lo) and mn < hi

    for limit, branch in ((0, "spark"), (1 << 40, "driver")):
        monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", limit)
        got: dict = {}

        def run(name, **kw):
            got[name] = decode_dataset(spark, out, **kw).toArrow()

        ev_full: dict = {}
        assert _spark_jobs(spark, lambda: run("full", pruning_evidence=ev_full)) == 1
        assert _spark_jobs(spark, lambda: run("filtered", filters=terms)) == 1
        ev: dict = {}
        assert _spark_jobs(spark, lambda: run("evidence", filters=terms, pruning_evidence=ev)) == 1

        assert got["full"].num_rows == 3000
        assert got["filtered"].num_rows == got["evidence"].num_rows == want > 0
        # a call without filters always takes the Spark branch
        assert ev_full == {"branch": "spark"}
        assert ev["branch"] == branch

        # unit counts: the plan's units, and those the key range can reach
        assert ev["units_total"] == sum(plan.salts) > ev["units_qualifying"] == len(units)
        # slice counts: manifest rows of those units, before and after the
        # url zone maps drop the chunks that can't hold [lo, hi)
        assert ev["total"] == len(rows)
        kept = [r for r in rows if chunk_may_match(r["stats"])]
        assert ev["qualifying"] == len(kept) > 0
        if branch == "driver":
            # the read loop evaluated every planned slice's rows, and the
            # pre-filter is exact on a string range
            assert ev["rows_decoded"] == sum(r["n_rows"] for r in kept) > ev["rows_kept"] == want
        else:
            assert "rows_decoded" not in ev and "rows_kept" not in ev


def test_driver_branch_with_no_survivors_is_a_local_relation(spark, pages):
    """A driver-branch decode that keeps no row still hands Spark a local
    relation: an empty Python list would make an RDD, whose every action
    runs a Python job."""
    _df, out = pages
    ev: dict = {}
    dec = decode_dataset(spark, out, filters=[("url", "=", "no such url")], pruning_evidence=ev)
    assert ev["branch"] == "driver" and ev["rows_kept"] == 0
    assert "LocalTableScan" in dec._jdf.queryExecution().executedPlan().toString()
    assert dec.count() == 0

def test_manifest_cache_sees_a_commit_behind_restored_directory_mtimes(spark, tmp_path):
    """The planner's manifest cache is keyed on the committed file names
    and the manifest pointer, not on directory mtimes: a commit whose
    directories carry their old mtimes (a coarse-clock or restored
    timestamp) is still visible to the next plan."""
    out = str(tmp_path / "fresh")
    df = generate_webpages(spark, 1000, partitions=2)
    halves = [df.where(F.crc32("url") % 2 == i) for i in (0, 1)]
    n_first = halves[0].count()
    cfg = EncodeJobConfig(output_dir=out, target_unit_bytes=1 << 20, chunk_rows=256)
    encode_job(spark, halves[0], cfg)
    assert decode_dataset(spark, out).toArrow().num_rows == n_first
    assert meta._committed_manifest(out).num_rows > 0

    dirs = [manifest_dir(out), os.path.join(out, "lineage")]
    before = {d: os.stat(d) for d in dirs}
    encode_job(spark, halves[1], dataclasses.replace(cfg, skip_completed=False))
    for d, st in before.items():
        os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))

    assert meta._committed_manifest(out).num_rows == pq.read_table(manifest_dir(out)).num_rows
    assert decode_dataset(spark, out).toArrow().num_rows == 1000


# ---------------------------------------------------------------------------
# differential: decode_dataset vs the upe_encoded reader vs a Spark filter
# ---------------------------------------------------------------------------

def _column(c, op, v):
    col = F.col("`" + c + "`")
    if op in ("in", "not_in"):
        e = col.isin(*v)
        return ~e if op == "not_in" else e
    return {
        "<": lambda: col < v,
        "<=": lambda: col <= v,
        ">": lambda: col > v,
        ">=": lambda: col >= v,
        "=": lambda: col == v,
        "==": lambda: col == v,
        "!=": lambda: col != v,
        "<>": lambda: col != v,
        "is_null": col.isNull,
        "not_null": col.isNotNull,
        "startswith": lambda: col.startswith(v),
        "endswith": lambda: col.endswith(v),
        "contains": lambda: col.contains(v),
    }[op]()


def _condition(groups):
    cond = None
    for g in groups:
        gc = None
        for t in g:
            gc = _column(*t) if gc is None else gc & _column(*t)
        cond = gc if cond is None else cond | gc
    return cond


def _typed_source(spark, n=600):
    """Clustered zero-padded keys beside decimal(38), timestamp and date
    columns, a categorical with a dotted name and a null-heavy column
    (a populated head, an all-null middle, a sparse tail)."""
    return spark.range(n).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.timestamp_micros(F.lit(1704067200000000) + F.col("id") * 3600_000_000).alias("ts"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        (F.col("id").cast("decimal(38,4)") * Decimal("1.2500")).cast("decimal(38,4)").alias("price"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("ar", "de", "en", "fr", "zh")]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("meta.lang"),
        F.when(
            (F.col("id") < 150) | ((F.col("id") >= 450) & (F.col("id") % 5 == 0)),
            F.concat(F.lit("o"), F.col("id").cast("string")),
        ).alias("opt"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )


def _filters(rows, rng):
    """One seeded filter per supported op, plus two DNF filters."""
    pick = lambda: rows[int(rng.integers(0, len(rows)))]  # noqa: E731
    keys = [pick()["k"] for _ in range(3)]
    single = [  # each a conjunction of one term
        [("ts", "<", pick()["ts"])],
        [("d", "<=", pick()["d"])],
        [("price", ">", pick()["price"])],
        [("k", ">=", pick()["k"])],
        [("meta.lang", "=", pick()["meta.lang"])],
        [("price", "==", pick()["price"])],
        [("meta.lang", "!=", pick()["meta.lang"])],
        [("opt", "<>", "o7")],
        [("k", "in", keys + ["zz-absent"])],
        [("meta.lang", "not_in", ["de", pick()["meta.lang"]])],
        [("opt", "is_null", None)],
        [("opt", "not_null", None)],
        [("k", "startswith", pick()["k"][:5])],
        [("meta.lang", "endswith", pick()["meta.lang"][-1:])],
        [("text", "contains", "-" + pick()["k"][-2:])],
    ]
    dnf = [
        [[("k", "<", pick()["k"])], [("meta.lang", "=", "fr"), ("ts", ">=", pick()["ts"])]],
        [[("opt", "is_null", None), ("price", "<", pick()["price"])], [("d", ">", pick()["d"])]],
    ]
    return single, dnf


def _planned_chunks(parts):
    return sorted((f, off) for p in parts for f, off, _ln, _sl in p.chunks)


_COLS = ["k", "ts", "d", "price", "meta.lang", "opt", "text"]


def _sorted_rows(tbl):
    return sorted(tuple(r.values()) for r in tbl.select(_COLS).to_pylist())


def test_both_scan_paths_match_a_spark_filter_of_the_source(spark, tmp_path, monkeypatch):
    sds.register(spark)
    out = str(tmp_path / "diff")
    src = _typed_source(spark)
    load_or_build_plan(
        src, EncodeJobConfig(output_dir=out, key_col="k", size_cols=("text",), target_unit_bytes=8 << 10)
    )
    # the upe_encoded sink takes the dotted name the DataFrame encode rejects
    src.write.format("upe_encoded").option("key_col", "k").option("chunk_rows", "64").mode(
        "append"
    ).save(out)
    rows = src.collect()
    single, dnf = _filters([r.asDict() for r in rows], np.random.default_rng(20261017))
    assert {f[0][1] for f in single} == set(
        ("<", "<=", ">", ">=", "=", "==", "!=", "<>", "in", "not_in", "is_null",
         "not_null", "startswith", "endswith", "contains")
    )

    planned: list = []
    real_plan = scan.plan_partitions

    def recording_plan(*a, **kw):
        parts = real_plan(*a, **kw)
        planned.append(_planned_chunks(parts))
        return parts

    monkeypatch.setattr(scan, "plan_partitions", recording_plan)
    reader_df = spark.read.format("upe_encoded").load(out)
    # the reader plans every chunk; Spark filters its rows
    all_chunks = _planned_chunks(sds._EncodedReader({"path": out}).partitions())
    pruned = 0
    for filters in single + dnf:
        cond = _condition(filters if isinstance(filters[0], list) else [filters])
        want = _sorted_rows(src.where(cond).toArrow())
        assert _sorted_rows(decode_dataset(spark, out, filters=filters).toArrow()) == want, filters
        assert _sorted_rows(reader_df.where(cond).toArrow()) == want, filters
        assert set(planned[-1]) <= set(all_chunks), filters
        pruned += len(planned[-1]) < len(all_chunks)
    # the filters exercise pruning, not only the residual
    assert pruned >= len(single) // 2


def test_numbers_spark_compares_in_double_keep_their_rows(spark, tmp_path, monkeypatch):
    """Spark compares a float value with a decimal column in double: a
    decimal(38,4) above 2**53 matches a float bound its exact value
    misses, so pruning and the pre-filter keep such a term's rows, on
    both decode branches."""
    import pyarrow as pa

    out = str(tmp_path / "dec")
    src = spark.range(4).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        (F.lit(Decimal("12345678901234567.0001")) + F.col("id")).cast("decimal(38,4)").alias("price"),
    )
    encode_job(spark, src, EncodeJobConfig(output_dir=out, key_col="k", size_cols=("k",), chunk_rows=2))
    for op in (">=", "="):
        filters = [("price", op, 1.2345678901234568e16)]
        want = sorted(r.k for r in src.where(_condition([filters])).collect())
        assert "000000" in want, op  # 12345678901234567.0001 reads as 1.2345678901234568e16
        for limit in (0, 1 << 40):  # the Spark branch, then the driver branch
            monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", limit)
            got = sorted(r.k for r in decode_dataset(spark, out, filters=filters).collect())
            assert got == want, (op, limit)

    schema = pa.schema([("p", pa.decimal128(38, 4)), ("i", pa.int64()), ("x", pa.float32())])
    terms = [
        ("p", ">=", 1.5), ("p", "in", [Decimal("1.5"), 2]), ("i", "<", 2.5), ("i", "!=", 3),
        ("x", "=", Decimal("0.1")), ("x", "<", 3), ("x", ">", 1 << 25), ("x", "<=", 0.1),
    ]
    assert scan._pruning_groups(spark, [terms], schema) == [
        [("p", "in", (Decimal("1.5"), 2)), ("i", "!=", 3), ("x", "<", 3), ("x", "<=", 0.1)]
    ]


def test_normalized_terms_drop_what_cannot_prune(spark):
    import pyarrow as pa

    schema = pa.schema(
        [("ts", pa.timestamp("us")), ("d", pa.date32()), ("x", pa.float64()), ("p", pa.decimal128(38, 4))]
    )
    got = scan._pruning_groups(spark, [[
        ("ts", "in", ["2024-01-01"]),  # strings don't convert to epoch-µs
        ("d", "=", datetime(2024, 1, 1)),  # a datetime is not a date bound
        ("x", "<", float("nan")),  # NaN has no place in the bounds' order
        ("absent", "=", 1),
        ("p", "==", Decimal("1.5")),
        ("x", "<>", 2.0),
        ("d", ">=", date(2024, 1, 2)),
    ]], schema)
    assert got == [[("p", "=", Decimal("1.5")), ("x", "!=", 2.0), ("d", ">=", 19724)]]


def test_datetime_filters_read_as_spark_reads_them(spark, tmp_path, monkeypatch):
    """A datetime filter value means the instant Spark's residual compares
    in zone-map pruning, the read loop's pre-filter and the residual
    alike: PySpark makes a naive value a literal in the driver's local
    zone, or a ``TIMESTAMP_NTZ`` literal that Spark casts in the session
    zone when the session prefers NTZ.  With the driver in New York, both
    decode branches and the reader return the rows a Spark filter of the
    source returns, on a zone-aware and on a ``TIMESTAMP_NTZ`` column,
    with the session in UTC and in New York, each preferring either
    timestamp type."""
    import time

    sds.register(spark)
    out = str(tmp_path / "tz")
    # one minute apart from 2024-03-10 00:00 (UTC instants and NTZ wall
    # clocks), across New York's spring-forward gap; built without the
    # session zone, so every session reads the same rows
    src = spark.range(2000).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        F.timestamp_micros(F.lit(1710028800000000) + F.col("id") * 60_000_000).alias("ts"),
        F.expr("timestampadd(MINUTE, id, TIMESTAMP_NTZ '2024-03-10 00:00:00')").alias("ts_ntz"),
    )
    encode_job(
        spark, src,
        EncodeJobConfig(output_dir=out, key_col="k", size_cols=("k",), target_unit_bytes=1 << 10, chunk_rows=64),
    )
    # both scan paths read a stored TIMESTAMP_NTZ column back as a
    # TIMESTAMP, its wall clock read as UTC
    back = src.withColumn("ts_ntz", F.expr(
        "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts_ntz))"
    ))
    reader_df = spark.read.format("upe_encoded").load(out)

    def keys(df):
        return sorted(df.select("k").toArrow().column("k").to_pylist())

    confs = ("spark.sql.session.timeZone", "spark.sql.timestampType")
    try:
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        for zone in ("UTC", "America/New_York"):
            for ts_type in ("TIMESTAMP_LTZ", "TIMESTAMP_NTZ"):
                spark.conf.set(confs[0], zone)
                spark.conf.set(confs[1], ts_type)
                for col in ("ts", "ts_ntz"):
                    for op in ("<", ">"):
                        filters = [(col, op, datetime(2024, 3, 10, 3, 30))]
                        case = (zone, ts_type, col, op)
                        want = keys(back.where(_condition([filters])))
                        assert 0 < len(want) < 2000, case
                        assert keys(reader_df.where(_condition([filters]))) == want, case
                        for limit in (0, 1 << 40):  # the Spark branch, then the driver branch
                            monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", limit, raising=False)
                            assert keys(decode_dataset(spark, out, filters=filters)) == want, (case, limit)
    finally:
        monkeypatch.undo()
        time.tzset()
        spark.conf.set(confs[0], "UTC")
        spark.conf.unset(confs[1])
