"""The read loop's Arrow pre-filter and ``decode_dataset``'s two
branches (:mod:`universal_parquet_exporter_spark.encode.scan`).

Generated DNF filters over every filter op on a typed, two-generation
source: both ``decode_dataset`` branches and the ``upe_encoded`` reader
return exactly the rows a Spark filter of the source returns, and the
pre-filter keeps a superset of them.  Every op has a pre-filter, a
chunk-verdict and a residual case, and the filterless reads
(compaction, a stream micro-batch) carry no pre-filter."""

import os
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_scan_planner import _condition  # the oracle's own op table
from universal_parquet_exporter_spark.encode import compaction, meta, scan, stats
from universal_parquet_exporter_spark.encode.pipeline import (
    EncodeJobConfig,
    encode_job,
    load_or_build_plan,
)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.sources import spark_datasource as sds

_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _generation(spark, lo: int, hi: int, late: bool):
    """Rows ``[lo, hi)``: a zero-padded key, zone-aware and NTZ
    timestamps, dates, decimal(38,4), doubles with NaN and nulls, a
    dotted categorical, a null-heavy and an all-null column, and (second
    generation only) a ``late`` column the first generation predates."""
    i = F.col("id")
    cols = [
        F.lpad(i.cast("string"), 5, "0").alias("k"),
        F.timestamp_micros(F.lit(int(_T0.timestamp()) * 1_000_000) + i * 3_600_000_000).alias("ts"),
        F.date_add(F.lit("2024-01-01").cast("date"), i.cast("int")).alias("d"),
        F.when(i % 13 != 0, (i * Decimal("1.2500") - 100).cast("decimal(38,4)")).alias("price"),
        F.when(i % 7 == 0, F.lit(float("nan")))
        .when(i % 11 == 0, F.lit(None))
        .otherwise(i * 0.5 - 50.0)
        .alias("x"),
        F.element_at(F.array(*[F.lit(x) for x in ("ar", "de", "en", "fr")]), (i % 4 + 1).cast("int")).alias(
            "meta.lang"
        ),
        F.when((i < 40) | (i % 9 == 0), F.concat(F.lit("o"), i.cast("string"))).alias("opt"),
        F.lit(None).cast("string").alias("none"),
    ]
    if late:
        cols.append((i % 17).alias("late"))
    return spark.range(lo, hi).select(*cols).withColumn("ts_ntz", F.col("ts").cast("timestamp_ntz"))


_N1, _N2 = 400, 520


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    sds.register(spark)
    out = str(tmp_path_factory.mktemp("prefilter") / "enc")
    gen1 = _generation(spark, 0, _N1, late=False)
    gen2 = _generation(spark, _N1, _N2, late=True)
    load_or_build_plan(
        gen1, EncodeJobConfig(output_dir=out, key_col="k", size_cols=("k",), target_unit_bytes=512)
    )
    for g in (gen1, gen2):
        # the upe_encoded sink takes the dotted name the DataFrame encode rejects
        g.write.format("upe_encoded").option("key_col", "k").option("chunk_rows", "32").mode(
            "append"
        ).save(out)
    # never cached: a cached DataFrame's in-memory batch pruning drops
    # NaN rows from `x > 3.0` (Spark 4.1.2), which Spark's own filter keeps
    src = gen1.withColumn("late", F.lit(None).cast("long")).unionByName(gen2)
    return out, src, [r.asDict() for r in src.collect()]


_STR_OPS = ["startswith", "endswith", "contains"]
_CMP_OPS = ["<", "<=", ">", ">=", "=", "==", "!=", "<>"]


def _values(rows, col):
    """Pool of filter values for ``col``: its non-null values plus the
    edge cases each type's pre-filter must keep a superset for."""
    vals = sorted({r[col] for r in rows if r[col] is not None and r[col] == r[col]})
    if col in ("ts", "ts_ntz"):
        # naive and zone-aware values: a naive one means what PySpark's
        # literal converter reads, the driver's local wall clock
        vals = vals[::37]
        return [v.replace(tzinfo=None) for v in vals] + [v.astimezone(timezone.utc) for v in vals]
    if col == "d":
        return vals[::37] + [date(2023, 12, 31)]
    if col == "price":
        # a value finer than the column's scale, and an integer
        return vals[::37] + [Decimal("1.23456"), Decimal("-0.00005"), 5]
    if col == "x":
        return vals[::37] + [float("nan"), -0.0, 3]
    if col == "late":
        return list(range(0, 17, 3)) + [2.5]
    if col == "none":
        return ["a", "o1"]
    return vals[::7] + ["", "zz"]


def _term(rows, col):
    pool = st.sampled_from(_values(rows, col))
    is_str = col in ("k", "meta.lang", "opt", "none")
    ops = _CMP_OPS + ["in", "not_in", "is_null", "not_null"] + (_STR_OPS if is_str else [])

    def build(op):
        if op in ("is_null", "not_null"):
            return st.just((col, op, None))
        if op in ("in", "not_in"):
            return st.lists(pool, min_size=1, max_size=3).map(lambda v: (col, op, v))
        if op in _STR_OPS:
            # a prefix, suffix or infix of a pool value
            cut = st.tuples(pool, st.integers(0, 3), st.integers(0, 3))
            return cut.map(lambda t: (col, op, t[0][t[1] : len(t[0]) - t[2]]))
        return pool.map(lambda v: (col, op, v))

    return st.sampled_from(ops).flatmap(build)


_COLS = ["k", "ts", "ts_ntz", "d", "price", "x", "meta.lang", "opt", "none", "late"]


def _filters(rows):
    term = st.sampled_from(_COLS).flatmap(lambda c: _term(rows, c))
    group = st.lists(term, min_size=1, max_size=2)
    return st.one_of(group, st.lists(group, min_size=1, max_size=3))


def _keys(df):
    return sorted(df.select("k").toArrow().column("k").to_pylist())


_SETTINGS = dict(
    deadline=None, derandomize=True, database=None, phases=[Phase.explicit, Phase.generate],
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


def _groups(filters):
    return filters if isinstance(filters[0], list) else [filters]


def test_generated_filters_match_a_spark_filter_of_the_source(spark, typed, monkeypatch):
    """For each generated filter, the Spark branch, the driver branch and
    the reader return exactly the rows a Spark filter of the source
    returns."""
    out, src, rows = typed
    reader_df = spark.read.format("upe_encoded").load(out)

    @settings(max_examples=10, **_SETTINGS)
    @given(_filters(rows))
    # the edge cases each pre-filter type must keep a superset for
    @example([("x", ">", 3.0)])  # NaN sorts above every number in Spark
    @example([("x", "!=", -0.0), ("price", ">=", Decimal("1.23456"))])
    @example([[("late", "<", 2.5)], [("late", "is_null", None), ("opt", "not_in", ["o1", "o9"])]])
    @example([[("ts_ntz", "<=", datetime(2024, 1, 3))], [("d", ">", date(2024, 12, 1))]])
    def check(filters):
        cond = _condition(_groups(filters))
        want = _keys(src.where(cond))
        assert _keys(reader_df.where(cond)) == want, filters
        for limit, branch in ((0, "spark"), (1 << 40, "driver")):
            monkeypatch.setattr(scan, "_DRIVER_DECODE_BYTES", limit)
            ev: dict = {}
            got = _keys(decode_dataset(spark, out, filters=filters, pruning_evidence=ev))
            assert got == want, (filters, branch)
            assert ev["branch"] == branch

    check()


def test_prefilter_keeps_every_matching_row(spark, typed):
    """The read loop's pre-filter keeps a superset of the rows the exact
    residual keeps, on every decoded batch: generated filters in
    batches, each batch's matches from one Spark job over the source."""
    out, src, rows = typed
    man = meta._committed_manifest(out)
    probe = meta._probe_chunk_schema(out, man)

    @settings(max_examples=3, **_SETTINGS)
    @given(st.lists(_filters(rows), min_size=60, max_size=60, unique_by=repr))
    def check(batch):
        marks = src.select(
            "k", *[_condition(_groups(f)).alias(f"m{i}") for i, f in enumerate(batch)]
        ).toArrow()
        for i, filters in enumerate(batch):
            want = set(marks.filter(marks.column(f"m{i}")).column("k").to_pylist())
            # decode_dataset's own reading of the values, then its plan
            groups = scan._pruning_groups(spark, _groups(filters), probe)
            parts = scan.plan_partitions(out, man, probe, None, groups)
            assert all(p.groups for p in parts) or not any(p.groups for p in parts)
            for p in parts:
                for b in scan._read_chunk_partition(p):
                    want -= set(b.column("k").to_pylist())
            assert not want, (filters, sorted(want))

    check()


def _typed_bound(text, t):
    """A ``dataset_column_stats`` bound, rendered in the zone-map domain,
    as a value comparable with Spark's aggregate read through Arrow."""
    if text is None:
        return None
    if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_integer(t):
        return int(text)
    if pa.types.is_decimal(t):
        return Decimal(text)
    return float(text) if pa.types.is_floating(t) else text


def _epoch(arr):
    """Spark's aggregate in the zone-map domain: epoch µs or days."""
    if pa.types.is_timestamp(arr.type):
        return arr.cast(pa.timestamp("us", arr.type.tz)).cast(pa.int64())
    return arr.cast(pa.int32()) if pa.types.is_date(arr.type) else arr


def test_column_stats_match_spark_aggregates(spark, typed):
    """``dataset_column_stats`` against Spark's MIN, MAX and null count
    of the source, for every column: a bound flagged exact equals
    Spark's, an inexact one still bounds the non-NaN values, and a
    reported null count is exact."""
    out, src, _rows = typed
    cols = src.columns
    q = lambda c: F.col(f"`{c}`")  # noqa: E731
    no_nan = lambda c: F.when(~F.isnan(q(c)), q(c)) if c == "x" else q(c)  # noqa: E731
    aggs = src.agg(*[
        e for i, c in enumerate(cols) for e in (
            F.min(q(c)).alias(f"min{i}"), F.max(q(c)).alias(f"max{i}"),
            F.min(no_nan(c)).alias(f"lo{i}"), F.max(no_nan(c)).alias(f"hi{i}"),
            F.count_if(q(c).isNull()).alias(f"nulls{i}"),
        )
    ]).toArrow()
    got = {r.column: r for r in stats.dataset_column_stats(spark, out).collect()}
    assert set(got) == set(cols)
    for i, c in enumerate(cols):
        r = got[c]
        t = aggs.schema.field(f"min{i}").type
        spark_min, spark_max, lo, hi = (
            _epoch(aggs.column(f"{k}{i}").combine_chunks())[0].as_py() for k in ("min", "max", "lo", "hi")
        )
        mn, mx = _typed_bound(r.min, t), _typed_bound(r.max, t)
        if r.min_exact:
            assert mn == spark_min, (c, mn, spark_min)
        elif mn is not None:
            assert mn <= lo, (c, mn, lo)
        if r.max_exact:
            assert mx == spark_max, (c, mx, spark_max)
        elif mx is not None:
            assert mx >= hi, (c, mx, hi)
        if r.null_count is not None:
            assert r.null_count == aggs.column(f"nulls{i}")[0].as_py(), c
        assert r.row_count == _N2
    assert not got["x"].max_exact  # Spark's MAX(x) is NaN
    sub = stats.dataset_column_stats(spark, out, columns=["x", "meta.lang"]).collect()
    assert [tuple(r) for r in sub] == [tuple(got["x"]), tuple(got["meta.lang"])]


def test_every_filter_op_has_a_prefilter_and_a_residual_case():
    """Every op has a residual case, a pre-filter case and a chunk
    verdict rule, whose tests are pre-filter cases too."""
    assert set(scan._SPARK_OPS) == set(scan._FILTER_OPS)
    for op in scan._FILTER_OPS:
        norm = scan._OP_ALIASES.get(op, op)
        assert norm in scan._ARROW_OPS, op
        tests = list(scan._ZONE_OPS[norm])
        assert tests, op
        for arr, test_op, _v in tests:
            if isinstance(arr, tuple):
                tests.extend(arr)
            else:
                assert test_op is None or test_op in scan._ARROW_OPS, (op, test_op)


def test_filterless_reads_carry_no_prefilter(spark, tmp_path, monkeypatch):
    """A compaction round trip and a stream micro-batch plan partitions
    without filter groups, so their read loop decodes every row."""
    out = str(tmp_path / "frag")
    df = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    for i in range(2):
        encode_job(
            spark,
            df.where(F.crc32(F.col("doc_id")) % 2 == i),
            EncodeJobConfig(
                output_dir=out, key_col="doc_id", size_cols=("text",), target_unit_bytes=256 << 10,
                chunk_rows=64, skip_completed=False, batch_tag=f"append_{i}",
            ),
        )
    stream = sds._EncodedStreamReader({"path": out})
    parts = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert sum(len(p.chunks) for p in parts) > 0
    assert not any(p.groups for p in parts)

    planned: list = []
    real_pack = compaction._pack_chunk_partitions

    def recording_pack(*a, **kw):
        parts = real_pack(*a, **kw)
        planned.extend(parts)
        return parts

    monkeypatch.setattr(compaction, "_pack_chunk_partitions", recording_pack)
    assert compaction.compact(spark, out, chunk_rows=32768)["units_compacted"] > 0
    assert planned and not any(p.groups for p in planned)
    got = sorted(tuple(r) for r in decode_dataset(spark, out).collect())
    assert got == sorted(tuple(r) for r in df.collect())
