"""Seeded inputs and the correctness oracles they are checked against.

Rows come from the engine's own web-page fixture generator
(``fixtures.webpages.generate_batch``), which derives every value from
the row id; the seed only picks which ids a run uses and every scan
parameter.  ``warc_ts`` is cast to a UTC instant so every generation of a
dataset is Spark ``TIMESTAMP`` (see README.md, "Known defect").
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from universal_parquet_exporter_spark.fixtures.webpages import generate_batch

TS_TYPE = pa.timestamp("us", "UTC")
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", TS_TYPE),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def first_id(seed: int) -> int:
    """Start of the seed's row-id range; ranges of different seeds are
    disjoint for any run size below 10^6 rows."""
    return 1_000_000 * (1 + seed % 100_000)


def webpages(ids: np.ndarray) -> pa.Table:
    ids = np.asarray(ids, dtype=np.int64)
    batches = [generate_batch(ids[i : i + 16384]) for i in range(0, ids.size, 16384)]
    return pa.Table.from_batches(batches).cast(SCHEMA)


def write_input(tbl: pa.Table, path: str, files: int = 4, row_group_rows: int = 8192) -> None:
    """The encode input: ``files`` Snappy parquet files in arrival order."""
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    for i in range(files):
        part = tbl.slice(i * n // files, (i + 1) * n // files - i * n // files)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"), row_group_size=row_group_rows)


def ts(us: int) -> datetime:
    return _EPOCH + timedelta(microseconds=int(us))


# ---------------------------------------------------------------------------
# selective scan shapes: terms in the engine's decode filter format
# ---------------------------------------------------------------------------


def _ts_window(src: pa.Table, rng: np.random.Generator, frac: float) -> tuple[datetime, datetime]:
    v = src.column("warc_ts").cast(pa.int64())
    lo, hi = pc.min(v).as_py(), pc.max(v).as_py() + 1
    width = max(1, int((hi - lo) * frac))
    start = lo + int(rng.integers(0, max(1, hi - lo - width)))
    return ts(start), ts(start + width)


def _mid_host(src: pa.Table, rng: np.random.Generator) -> str:
    """Prefix of a host holding 0.2-1% of the rows.  Hosts are Zipf-
    skewed, so a host picked by a random row is often one of the few
    holding a tenth of the table; a fixed band keeps every seed's
    selective scans the same size."""
    hosts = pc.extract_regex(src.column("url"), r"^(?P<h>https://[^/]+/)").combine_chunks().field("h")
    counts = pc.value_counts(hosts)
    n = counts.field("counts").to_numpy()
    names = counts.field("values").to_pylist()
    band = [names[i] for i in np.flatnonzero((n >= 0.002 * src.num_rows) & (n <= 0.01 * src.num_rows))]
    if not band:
        band = [names[int(np.argmin(np.abs(n - 0.005 * src.num_rows)))]]
    band.sort()
    return band[int(rng.integers(0, len(band)))]


def shape_terms(shape: str, src: pa.Table, rng: np.random.Generator) -> list[tuple]:
    """A seeded selective filter of the named shape over ``src``; each
    shape selects about the same share of rows for every seed."""
    if shape == "host_range":
        prefix = _mid_host(src, rng)
        # '/' + 1 == '0': [prefix, upper) is exactly the keys of one host
        return [("url", ">=", prefix), ("url", "<", prefix[:-1] + "0")]
    if shape == "url_in":
        urls = src.column("url")
        picks = [urls[int(i)].as_py() for i in rng.integers(0, src.num_rows, 16)]
        return [("url", "in", tuple(picks + [p + "-absent" for p in picks[:4]]))]
    if shape == "ts_window":
        t0, t1 = _ts_window(src, rng, 1 / 16)
        return [("warc_ts", ">=", t0), ("warc_ts", "<", t1)]
    if shape == "url_prefix":
        # one hex digit of the first path segment: 1/16 of a host's rows
        return [("url", "startswith", _mid_host(src, rng) + "0123456789abcdef"[int(rng.integers(0, 16))])]
    if shape == "lang_window":
        counts = pc.value_counts(src.column("lang"))
        langs = sorted(
            (v, c) for v, c in zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist())
            if v != "en"
        ) or [("en", src.num_rows)]
        lang, n_lang = langs[int(rng.integers(0, len(langs)))]
        # a window sized so the scan selects about 1% of the rows
        t0, t1 = _ts_window(src, rng, min(1.0, max(1 / 64, 0.01 * src.num_rows / n_lang)))
        return [("lang", "=", lang), ("warc_ts", ">=", t0), ("warc_ts", "<", t1)]
    raise ValueError(f"unknown scan shape {shape!r}")


SHAPES = ["host_range", "url_in", "ts_window", "url_prefix", "lang_window"]


def spark_condition(terms: list[tuple]):
    """The same conjunction as a Spark Column (the reader path's filter)."""
    from pyspark.sql import functions as F

    cond = None
    for c, op, v in terms:
        col = F.col(c)
        e = {
            ">=": lambda: col >= v,
            "<": lambda: col < v,
            "=": lambda: col == v,
            "in": lambda: col.isin(*v),
            "startswith": lambda: col.startswith(v),
        }[op]()
        cond = e if cond is None else (cond & e)
    return cond


def arrow_mask(tbl: pa.Table, terms: list[tuple]) -> pa.ChunkedArray:
    mask = None
    for c, op, v in terms:
        col = tbl.column(c)
        if isinstance(v, datetime):
            v = pa.scalar(v, TS_TYPE)
        e = {
            ">=": lambda: pc.greater_equal(col, v),
            "<": lambda: pc.less(col, v),
            "=": lambda: pc.equal(col, v),
            "in": lambda: pc.is_in(col, value_set=pa.array(list(v), col.type)),
            "startswith": lambda: pc.starts_with(col, pattern=v),
        }[op]()
        mask = e if mask is None else pc.and_(mask, e)
    return mask


def expected(sources: list[pa.Table], terms: list[tuple]) -> pa.Table:
    """Rows of the source tables the filter selects (pyarrow oracle)."""
    parts = [t.filter(arrow_mask(t, terms)) for t in sources]
    return pa.concat_tables(parts)


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Bit-identical row sets (``url`` is a unique key), order ignored."""
    if got.num_rows != want.num_rows or sorted(got.column_names) != sorted(COLUMNS):
        return False
    got = got.select(COLUMNS).cast(SCHEMA).sort_by("url")
    want = want.select(COLUMNS).cast(SCHEMA).sort_by("url")
    return all(
        got.column(c).combine_chunks().equals(want.column(c).combine_chunks()) for c in COLUMNS
    )


# ---------------------------------------------------------------------------
# order-independent fingerprints of whole outputs (computed inside Spark)
# ---------------------------------------------------------------------------


def fingerprint(df) -> tuple:
    """``(rows, sum of xxhash64 per column ...)``: order-independent, null
    aware (a null hashes to the seed), and additive over disjoint parts.
    The aggregate consumes every decoded value of every column."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.xxhash64(F.col(c)).cast("decimal(38,0)")).alias(c) for c in COLUMNS
    ]
    row = df.agg(*aggs).collect()[0]
    return (int(row["n"]),) + tuple(int(row[c] or 0) for c in COLUMNS)

