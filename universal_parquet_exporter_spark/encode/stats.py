"""Zone maps: the per-chunk statistics an encode records in the manifest
and every scan and metadata query reads back.

This module owns the format — the JSON written by :func:`_chunk_stats`,
the one write-side conversion of Arrow values into the zone-map domain
(:func:`_domain_values`), and the one read: :func:`_zone_maps` turns the
chunks' JSON into small Arrow arrays in each column's own type.  The
scan planner's chunk verdict (``scan._chunk_keep``) runs the read
loop's pre-filter over those arrays, and the metadata-only column
statistics (:func:`dataset_column_stats`) aggregate them with
``pyarrow.compute``.
"""

from __future__ import annotations

import io
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj

from .meta import _committed_manifest, _probe_chunk_schema

_STATS_STR_MAX = 64  # string bound length cap (see _chunk_stats)
_STATS_DV_MAX = 16  # distinct-value set cap (see _chunk_stats)
_STATS_DV_PROBE = 2048  # rows probed before committing to a full unique()

_TS_UNIT_TO_US = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}  # ns divides


def ts_value_us(v) -> int:
    """Python datetime → exact epoch-µs int.  Naive datetimes are read as
    UTC wall-clock — the same convention Arrow uses to store tz-naive
    timestamp columns, so filter bounds and recorded stats agree."""
    from datetime import datetime, timedelta, timezone

    if v.tzinfo is None:
        v = v.replace(tzinfo=timezone.utc)
    return (v - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)


def date_value_days(v) -> int:
    """Python date → days since epoch (the date32 storage integer)."""
    from datetime import date

    return (v - date(1970, 1, 1)).days


def _domain_values(arr: pa.Array, t: pa.DataType) -> list:
    """Arrow values of type ``t`` → the zone-map domain, nulls as None:
    timestamps → exact epoch-µs ints (ns floor-divides; no float round-
    trip), dates → epoch-day ints, decimals → exact decimal STRINGS (an
    unscaled int can overflow int64 at precision 38); other types as
    their Python values."""
    if pa.types.is_timestamp(t):
        mult = _TS_UNIT_TO_US[t.unit]
        return [
            None if r is None else r // 1000 if mult is None else r * mult
            for r in arr.cast(pa.int64()).to_pylist()
        ]
    vals = arr.to_pylist()
    if pa.types.is_date(t):
        return [None if v is None else date_value_days(v) for v in vals]
    if pa.types.is_decimal(t):
        return [None if v is None else str(v) for v in vals]
    return vals


def _chunk_stats(tbl: pa.Table) -> str:
    """Per-chunk zone map: JSON ``{col: [min, max]}`` over int/float/
    string/timestamp/date/decimal columns — the engine's analog of
    parquet row-group statistics, consumed by the scan planner's
    ``filters`` pruning.  A ``null`` bound means unbounded on that side
    (never wrongly prunes):
    - long string minima are TRUNCATED (a prefix is still a valid lower
      bound); long string maxima are dropped (truncating a max would
      understate it and prune chunks that match — the parquet pitfall);
    - float bounds skip NaN (``pc.min_max`` ignores it), so a float
      column's max is no upper bound in Spark's order, where NaN sorts
      above every number (``top`` in :func:`_zone_maps`);
    - timestamps, dates and decimals record their zone-map domain values
      (:func:`_domain_values`) — so ``warc_ts``-style time-range scans
      prune, the canonical Common-Crawl filter column (SURVEY §1.2);
    - all-null columns record no bounds.

    Low-cardinality columns additionally record their EXACT distinct
    values under the reserved ``_dv`` key (``{"_dv": {col: [v, ...]}}``)
    when a chunk holds ≤ ``_STATS_DV_MAX`` of them: equality/IN terms on
    interleaved categorical columns (``lang = 'de'``) then prune chunks
    that min/max bounds can never exclude (``'de'`` sits inside every
    chunk's [ar..zh] range).  This is the metadata-plane-sized answer to
    point lookups — a real per-chunk Bloom filter needs ~1 byte/value
    (40 KB/chunk at 32k rows), which belongs in payload, not in a 10^7-
    row manifest; a ≤16-value set costs ≤ ~200 B and is EXACT, not
    probabilistic.  High-cardinality columns exit on a ``_STATS_DV_PROBE``-
    row prefix probe before any full unique() pass; values are stored in
    the same domain as the bounds, and a
    string set is dropped whole if any member exceeds the length cap
    (a truncated member would break equality exactness).

    Every chunk also records its row count under ``_n`` and per-column
    null counts under ``_nc`` (ALL columns, zeros included — the parquet
    null-count analog, type-agnostic so binary/bool/list columns get
    them too).  Consumers prune ``IS NULL`` terms when a column's count
    is 0, ``IS NOT NULL`` terms when it equals ``_n``, and — because
    comparison/equality predicates are null-rejecting — any other term
    when the column is all-null IN THAT CHUNK, which includes chunks
    from generations that predate the column under additive schema
    evolution (their ``_nc`` simply lacks the key).  A column absent
    from ``_nc`` on a chunk whose map exists therefore means all-null;
    a chunk with no ``_nc`` at all (pre-feature data, or a dataset with
    a real column named ``_n``/``_nc``, which suppresses both reserved
    keys) never prunes on null counts."""
    import math


    stats: dict[str, list] = {}
    dv_map: dict[str, list] = {}
    if "_n" not in tbl.schema.names and "_nc" not in tbl.schema.names:
        nc_map = {f.name: tbl.column(f.name).null_count for f in tbl.schema}
    else:
        nc_map = None
    for field in tbl.schema:
        t = field.type
        is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
        if not (
            pa.types.is_integer(t) or pa.types.is_floating(t) or is_str
            or pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_decimal(t)
        ):
            continue
        col = tbl.column(field.name)
        if col.null_count == len(col):
            continue
        if is_str:
            # avg > cap ⟹ some member > cap ⟹ the set would be dropped
            # whole — skip the probe without changing the result (and
            # document bodies skip hashing 2048 long strings per chunk)
            avg_len = col.nbytes / max(len(col) - col.null_count, 1)
        if not pa.types.is_floating(t) and field.name != "_dv" and not (
            is_str and avg_len > _STATS_STR_MAX
        ):
            dv = _dv_values(col, t)
            if dv is not None:
                dv_map[field.name] = dv
        if is_str and avg_len > _STATS_STR_MAX:
            # skip long-string columns (document bodies): their maxima
            # would be dropped and their minima truncated to near-useless
            # prefixes, yet min_max would scan every byte — a measurable
            # tax on the hot encode path for bounds that never prune.
            # Keys/ids/enum-ish columns (avg value <= cap) keep stats.
            continue
        mm = pc.min_max(col)
        mn, mx = _domain_values(pa.array([mm["min"], mm["max"]], t), t)
        if mn is None or mx is None:
            continue
        if pa.types.is_floating(t) and (math.isnan(mn) or math.isnan(mx)):
            continue
        if is_str:
            mn = mn[:_STATS_STR_MAX]
            if len(mx) > _STATS_STR_MAX:
                mx = None
        if field.name != "_dv":  # a real column named _dv would shadow the set map
            stats[field.name] = [mn, mx]
    if dv_map and "_dv" not in tbl.schema.names:
        stats["_dv"] = dv_map
    if nc_map is not None:
        stats["_n"] = tbl.num_rows
        stats["_nc"] = nc_map
    return json.dumps(stats, separators=(",", ":"))


def _dv_values(col, t) -> list | None:
    """The column's exact distinct-value set in the zone-map domain, or
    None when it exceeds ``_STATS_DV_MAX`` (a prefix probe exits before
    the full unique() on high-cardinality columns) or any string member
    exceeds the length cap.  Sorted — stats stay byte-deterministic."""

    # pc.unique/count_distinct take ChunkedArray directly — no copy
    if len(col) > _STATS_DV_PROBE:
        if pc.count_distinct(col.slice(0, _STATS_DV_PROBE)).as_py() > _STATS_DV_MAX:
            return None
    u = pc.unique(col).drop_null()
    if len(u) > _STATS_DV_MAX or len(u) == 0:
        return None
    vals = _domain_values(u, t)
    is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    if is_str and any(len(v) > _STATS_STR_MAX for v in vals):
        return None
    return sorted(vals)


# ---------------------------------------------------------------------------
# the read side: recorded zone maps in Arrow
# ---------------------------------------------------------------------------


def _zone_types(t: pa.DataType):
    """``(JSON type, Arrow type)`` of the zone-map values of a column of
    type ``t``: the type they are recorded in and the one they read back
    as (timestamps as µs in the column's zone, dates as date32, other
    types as ``t``), or None for a column that records none."""
    if pa.types.is_timestamp(t):
        return pa.int64(), pa.timestamp("us", t.tz)
    if pa.types.is_date(t):
        return pa.int32(), pa.date32()
    if pa.types.is_integer(t):
        return pa.int64(), t
    if pa.types.is_floating(t):
        return pa.float64(), t
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_decimal(t):
        return pa.string(), t
    return None


def _cast(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """``arr`` as type ``t``, null where a value does not convert."""
    try:
        return arr.cast(t)
    except pa.ArrowException:
        out = []
        for v in arr:
            try:
                out.append(v.cast(t).as_py())
            except pa.ArrowException:
                out.append(None)
        return pa.array(out, t)


def _read_json_lines(lines: list, options) -> pa.Table:
    """One row per JSON line, read by Arrow's JSON reader; a line that
    does not read as one object of the options' schema reads as ``{}``
    (found by bisection, so only a garbled map costs extra reads)."""
    if not lines:
        return options.explicit_schema.empty_table()
    try:
        tbl = pj.read_json(io.BytesIO("\n".join(lines).encode()), parse_options=options)
        if tbl.num_rows == len(lines):
            return tbl
    except pa.ArrowInvalid:
        pass
    if len(lines) == 1:
        return _read_json_lines(["{}"], options)
    mid = len(lines) // 2
    return pa.concat_tables([_read_json_lines(lines[:mid], options), _read_json_lines(lines[mid:], options)])


def _zone_maps(stats: pa.Array, schema: pa.Schema, columns) -> tuple[pa.Array, dict[str, pa.RecordBatch]]:
    """Each chunk's zone map, from ``stats`` (an Arrow array of its JSON,
    one per chunk), as Arrow arrays with a row per chunk: the row count
    (``_n``), and for each of ``columns`` of ``schema`` a batch of
    ``min`` and ``max`` (:func:`_zone_types`), ``top`` (the max as an
    upper bound in Spark's order: null for floats, whose recorded max
    skips NaN), ``rows``, ``nulls`` and ``nonnull`` counts, and
    ``values``, the exact distinct-value set as a list.  Null is what a
    chunk did not record or what does not convert: a missing or garbled
    map is null throughout, and a column absent from a recorded ``_nc``
    map is all-null in that chunk."""
    columns = list(dict.fromkeys(columns))  # one JSON field per name
    kinds = {c: _zone_types(schema.field(c).type) for c in columns}
    recorded = {c: k[0] for c, k in kinds.items() if k is not None}
    # the writer records _n/_nc unless a real column takes either name
    counts = "_n" not in schema.names and "_nc" not in schema.names
    fields = [pa.field(c, pa.list_(j)) for c, j in recorded.items() if c != "_dv"]
    if counts:
        fields += [pa.field("_n", pa.int64()), pa.field("_nc", pa.struct([(c, pa.int64()) for c in columns]))]
    fields.append(pa.field("_dv", pa.struct([(c, pa.list_(j)) for c, j in recorded.items()])))
    options = pj.ParseOptions(explicit_schema=pa.schema(fields), unexpected_field_behavior="ignore")
    tbl = _read_json_lines(pc.fill_null(stats, "{}").to_pylist(), options)
    n = tbl.num_rows
    col = lambda name: tbl.column(name).combine_chunks()  # noqa: E731
    nc = col("_nc") if counts else None
    # a recorded null-count map needs the chunk's row count beside it
    rows = pc.if_else(pc.is_valid(nc), col("_n"), pa.nulls(n, pa.int64())) if counts else pa.nulls(n, pa.int64())
    out = {}
    for c in columns:
        zt = kinds[c][1] if kinds[c] else schema.field(c).type
        lo = hi = pa.nulls(n, zt)
        if c in recorded and c != "_dv":
            b = col(c)
            b = pc.if_else(pc.equal(pc.list_value_length(b), 2), b, pa.nulls(n, b.type))
            lo, hi = _cast(pc.list_element(b, 0), zt), _cast(pc.list_element(b, 1), zt)
        values = pa.nulls(n, pa.list_(zt))
        if c in recorded:
            dv = col("_dv").field(c)
            lists = pa.ListArray.from_arrays(dv.offsets, _cast(dv.values, zt))
            # a set with a member that does not convert is not exact: drop it
            drop = dv.is_null().to_numpy(zero_copy_only=False)
            drop[pc.list_parent_indices(lists).filter(lists.values.is_null()).to_numpy()] = True
            values = pc.if_else(pa.array(drop), values, lists)
        nulls = pc.if_else(pc.is_valid(rows), pc.coalesce(nc.field(c), rows), rows) if counts else rows
        out[c] = pa.RecordBatch.from_pydict({
            "min": lo, "max": hi,
            "top": pa.nulls(n, zt) if pa.types.is_floating(zt) else hi,
            "rows": rows, "nulls": nulls, "nonnull": pc.subtract(rows, nulls),
            "values": values,
        })
    return rows, out


def dataset_column_stats(spark, output_dir: str, columns: list[str] | None = None):
    """Per-column statistics answered from manifest METADATA — the
    ``MIN/MAX(col)`` diagnostic shape (the reference's only aggregate
    diagnostic is ``MIN/MAX(order_date)``, in its
    ``examples/advanced_integration_example.py:168-169``)
    without scanning or decoding a single payload chunk, and without a
    Spark job: the committed manifest and the meta-only schema probe
    (chunk header bytes, never chunk payload) come from :mod:`.meta`,
    and the zone maps aggregate on the driver.

    Returns a DataFrame ``(column, min, max, min_exact, max_exact,
    null_count, row_count)``:

    - ``row_count`` — exact always (sum of committed slice rows);
    - ``null_count`` — exact when every chunk records null counts
      (``_nc``), else NULL (pre-null-count data);
    - ``min``/``max`` — rendered in the zone-map domain as strings
      (epoch-µs ints for timestamps, epoch-day ints for dates, exact
      decimal strings), aggregated in the column's own typed domain
      (never lexicographic for numerics);
    - ``min_exact``/``max_exact`` — True when every chunk either
      records that bound or is provably all-null for the column (SQL
      MIN/MAX ignore nulls, so all-null chunks cannot move the answer),
      and, for strings, no recorded minimum sits at the truncation cap
      (a capped minimum may be a truncated prefix — a valid lower
      bound, not the exact minimum).  Long-string columns record no
      bounds, so they surface as inexact rather than wrong; a float
      column's ``max`` is never exact, since its zone maps skip NaN,
      which Spark's ``MAX`` returns (its ``min`` is: NaN sorts above
      every number).

    One further never-wrong guard: a chunk whose committed slices cover
    FEWER rows than its recorded ``_n`` (compaction can supersede a
    subset of a multi-unit chunk) poisons exactness for every column —
    its whole-chunk statistics describe dead rows too.
    """
    man = _committed_manifest(output_dir)
    if "stats" not in man.schema.names:
        raise ValueError(f"dataset at {output_dir} predates zone-map statistics")
    probe = _probe_chunk_schema(output_dir, man)
    cols = list(columns) if columns else probe.names
    missing = [c for c in cols if c not in probe.names]
    if missing:
        raise ValueError(f"columns not in dataset: {missing}")

    # slices of one chunk share its stats: dedupe to chunks first,
    # keeping the LIVE row coverage per chunk — compaction can supersede
    # a subset of a multi-unit chunk's slices, after which the chunk's
    # whole-chunk _n/_nc/bounds describe MORE rows than are committed
    # through it, so a partially-covered chunk poisons exactness
    chunks = man.group_by(["file", "offset"], use_threads=False).aggregate(
        [("stats", "first"), ("n_rows", "sum")]
    )
    rows, maps = _zone_maps(chunks.column("stats_first").combine_chunks(), probe, cols)
    partial = pc.any(pc.fill_null(pc.less(chunks.column("n_rows_sum"), rows), True)).as_py()
    n_rows_total = pc.sum(man.column("n_rows")).as_py()

    def render(v: pa.Scalar):  # the zone-map domain; decimals never as 1E-7
        if not v.is_valid:
            return None
        if pa.types.is_decimal(v.type):
            return format(v.as_py(), "f")
        return str(_domain_values(pa.array([v]), v.type)[0])

    out_rows = []
    for c in cols:
        z = maps[c]
        # a chunk with no non-null value cannot move SQL MIN/MAX
        all_null = pc.fill_null(pc.less_equal(z["nonnull"], 0), False)

        def exact(bound):
            return not (partial or pc.any(pc.and_(pc.is_null(bound), pc.invert(all_null))).as_py())

        t = z["min"].type
        capped = (pa.types.is_string(t) or pa.types.is_large_string(t)) and pc.any(
            pc.greater_equal(pc.utf8_length(z["min"]), _STATS_STR_MAX)
        ).as_py()
        out_rows.append((
            c,
            render(pc.min(z["min"])),
            render(pc.max(z["max"])),
            exact(z["min"]) and not capped,
            exact(z["top"]),
            None if partial or z["nulls"].null_count else pc.sum(z["nulls"], min_count=0).as_py(),
            n_rows_total,
        ))
    return spark.createDataFrame(
        out_rows,
        "column string, min string, max string, min_exact boolean, "
        "max_exact boolean, null_count long, row_count long",
    )
