"""Zone maps: the per-chunk statistics an encode records in the manifest
and every scan and metadata query reads back.

This module owns the format — the JSON written by :func:`_chunk_stats`,
the one write-side conversion of Arrow values into the zone-map domain
(:func:`_domain_values`), the one read-side conversion back into each
column's own ordered domain (:func:`_domain_reader`), the pruning
verdict (:func:`_stats_keep`) and the metadata-only column statistics
(:func:`dataset_column_stats`).
"""

from __future__ import annotations

import json
from decimal import Decimal

import pyarrow as pa

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


def _domain_reader(t: pa.DataType):
    """The converter from a value recorded in the zone-map domain for a
    column of type ``t`` to the column's own ordered domain: ``Decimal``
    from the exact decimal string, float, an epoch int (integers,
    timestamps, dates) or str.  It raises TypeError, ValueError or
    ArithmeticError on a value outside that domain."""
    if pa.types.is_decimal(t):
        return lambda v: Decimal(str(v))
    if pa.types.is_floating(t):
        return float
    if pa.types.is_integer(t) or pa.types.is_timestamp(t) or pa.types.is_date(t):
        return int
    return str


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
      column's max never prunes ``>``/``>=`` (:func:`_stats_keep`);
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

    import pyarrow.compute as pc

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
    import pyarrow.compute as pc

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
# the zone-map evaluator
# ---------------------------------------------------------------------------

_OP_ALIASES = {"==": "=", "<>": "!="}


def _normalize_terms(terms, schema: pa.Schema):
    """Convert term values to the zone-map domain ONCE per scan (not per
    chunk): timestamps → epoch-µs ints, dates → epoch-days ints,
    decimals → ``Decimal`` (the domain :func:`_domain_reader` re-types
    their recorded bounds to); ``==``/``<>`` become ``=``/``!=``.
    Terms whose column is absent from the schema or whose value can't
    convert (or is a float NaN, which has no place in the bounds' order)
    are dropped from PRUNING — the exact residual still applies them."""
    from datetime import date, datetime

    out = []
    for col, op, v in terms:
        op = _OP_ALIASES.get(op, op)
        if col not in schema.names:
            continue
        if op in ("is_null", "not_null"):
            # value-less terms skip the domain conversion entirely
            out.append((col, op, None))
            continue
        t = schema.field(col).type
        if pa.types.is_timestamp(t):
            conv, kind = ts_value_us, datetime
        elif pa.types.is_date(t):
            conv, kind = date_value_days, date
        elif pa.types.is_decimal(t):
            conv, kind = _domain_reader(t), object
        else:
            conv = None
        try:
            if conv is not None and op in ("in", "not_in"):
                v = tuple(conv(x) for x in v)
            elif conv is not None:
                if not isinstance(v, kind):
                    continue
                v = conv(v)
        except (TypeError, ValueError, ArithmeticError, AttributeError):
            continue
        vals = v if op in ("in", "not_in") else (v,)
        if any(isinstance(x, float) and x != x for x in vals):
            continue
        out.append((col, op, v))
    return out


def _parse_stats(stats_json: str | None) -> dict | None:
    try:
        stats = json.loads(stats_json) if stats_json else None
    except (TypeError, ValueError):
        return None
    return stats if isinstance(stats, dict) else None


def _stats_keep(stats: dict, terms, schema: pa.Schema | None) -> bool:
    """Zone-map verdict for ONE chunk's parsed stats (:func:`_parse_stats`)
    and one AND-group of terms: False only when the recorded stats PROVE
    a term can't match (missing or partial stats keep).  This is the
    engine's one pruning evaluator — the reader and ``decode_dataset``
    both plan through it, and neither runs a Spark job to prune.  Terms
    must be pre-normalized (:func:`_normalize_terms`); recorded values
    of a column ``schema`` knows are re-typed by :func:`_domain_reader`,
    and a value that does not fit the column's domain never prunes."""
    dv_map = stats.get("_dv")
    if not isinstance(dv_map, dict):
        dv_map = {}
    nc_map = stats.get("_nc")
    n_total = stats.get("_n")
    have_nc = isinstance(nc_map, dict) and isinstance(n_total, int)
    for col, op, v in terms:
        # null-count pruning (the parquet null-count analog): a column
        # absent from a recorded _nc map is all-null in this chunk —
        # including chunks whose generation PREDATES the column under
        # additive evolution; comparison/equality/prefix terms are
        # null-rejecting, so all-null prunes those too
        if have_nc:
            nc = nc_map.get(col)
            all_null = not isinstance(nc, int) or nc >= n_total
            if op == "is_null":
                if isinstance(nc, int) and nc == 0:
                    return False
                continue
            if op == "not_null":
                if all_null:
                    return False
                continue
            if all_null:
                return False
        elif op in ("is_null", "not_null"):
            continue
        known = schema is not None and col in schema.names
        conv = _domain_reader(schema.field(col).type) if known else None
        # exact distinct-value sets (≤ _STATS_DV_MAX values recorded):
        # equality/IN/prefix prune on MEMBERSHIP — the interleaved-
        # categorical case min/max bounds can never exclude
        dv = dv_map.get(col)
        if dv is not None and conv is not None:
            try:
                dv = [conv(x) for x in dv]
            except (TypeError, ValueError, ArithmeticError):
                dv = None
        if dv is not None and op in ("!=", "not_in"):
            # inequality prunes ONLY through the exact value set: the
            # chunk matches nothing when every recorded non-null value
            # is rejected (all-null rejection already returned above)
            rejected = v if op == "not_in" else (v,)
            try:
                if all(x in rejected for x in dv):
                    return False
            except TypeError:
                pass  # cross-type membership: never prune on it
            continue
        if dv is not None:
            strs = all(isinstance(x, str) for x in dv)
            try:
                if op == "=" and v not in dv:
                    return False
                if op == "in" and not any(x in dv for x in v):
                    return False
                if op == "startswith" and strs and not any(x.startswith(v) for x in dv):
                    return False
                if op == "endswith" and strs and not any(x.endswith(v) for x in dv):
                    return False
                if op == "contains" and strs and not any(v in x for x in dv):
                    return False
            except TypeError:
                pass  # cross-type membership: never prune on it
        bounds = stats.get(col)
        if not isinstance(bounds, (list, tuple)) or len(bounds) != 2:
            continue
        mn, mx = bounds
        if conv is not None:
            try:
                mn = None if mn is None else conv(mn)
                mx = None if mx is None else conv(mx)
            except (TypeError, ValueError, ArithmeticError):
                continue
        if op in (">", ">=") and conv is float:
            continue  # NaN rows sit above the recorded max in Spark's order
        try:
            if op in (">", ">="):
                if mx is not None and not (mx > v if op == ">" else mx >= v):
                    return False
            elif op in ("<", "<="):
                if mn is not None and not (mn < v if op == "<" else mn <= v):
                    return False
            elif op == "=":
                if (mn is not None and mn > v) or (mx is not None and mx < v):
                    return False
            elif op == "in":
                if mn is not None and mx is not None and not any(
                    mn <= x <= mx for x in v
                ):
                    return False
            elif op == "startswith":
                # all matches are >= v and share v's length-prefix
                if mx is not None and mx < v:
                    return False
                if mn is not None and isinstance(mn, str) and mn[: len(v)] > v:
                    return False
        except TypeError:
            continue  # cross-type comparison: never prune on it
    return True


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
      bound, not the exact minimum).  Long-string columns and
      NaN-bearing float chunks record no bounds, so they surface as
      inexact rather than wrong.

    One further never-wrong guard: a chunk whose committed slices cover
    FEWER rows than its recorded ``_n`` (compaction can supersede a
    subset of a multi-unit chunk) poisons exactness for every column —
    its whole-chunk statistics describe dead rows too.
    """
    import pyarrow.compute as pc

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
    stats = [_parse_stats(s) or {} for s in chunks.column("stats_first").to_pylist()]
    n_tot = [st.get("_n") if type(st.get("_n")) is int else None for st in stats]
    # a recorded null-count map needs the chunk's row count beside it
    nc_maps = [
        st.get("_nc") if n is not None and isinstance(st.get("_nc"), dict) else None
        for st, n in zip(stats, n_tot)
    ]
    any_partial = any(
        n is None or cov < n
        for n, cov in zip(n_tot, chunks.column("n_rows_sum").to_pylist())
    )

    def typed(conv, v):
        if v is None:
            return None
        try:
            return conv(v)
        except (TypeError, ValueError, ArithmeticError):
            return None

    def render(v):  # decimals in plain notation (never 1E-7)
        return None if v is None else format(v, "f") if isinstance(v, Decimal) else str(v)

    n_rows_total = pc.sum(man.column("n_rows")).as_py()

    out_rows = []
    for c in cols:
        # bounds compare in the column's own domain: exact epoch ints for
        # timestamps/dates, Decimal for decimals, lexicographic strings
        conv = _domain_reader(probe.field(c).type)
        mins, maxs = [], []
        miss_mn = miss_mx = at_cap = nc_unknown = False
        nc_sum = 0
        for st, n, ncm in zip(stats, n_tot, nc_maps):
            # an absent key under a recorded _nc map means the column is
            # absent from the chunk (all-null under additive evolution);
            # no map at all means unknown
            all_null = False
            if ncm is None:
                nc_unknown = True
            else:
                nc = ncm.get(c) if type(ncm.get(c)) is int else None
                all_null = nc is None or nc >= n
                nc_sum += n if nc is None else nc
            b = st.get(c)
            mn, mx = b if isinstance(b, list) and len(b) == 2 else (None, None)
            if conv is str and isinstance(mn, str) and len(mn) >= _STATS_STR_MAX:
                at_cap = True
            mn, mx = typed(conv, mn), typed(conv, mx)
            if mn is not None:
                mins.append(mn)
            elif not all_null:
                miss_mn = True
            if mx is not None:
                maxs.append(mx)
            elif not all_null:
                miss_mx = True
        out_rows.append((
            c,
            render(min(mins) if mins else None),
            render(max(maxs) if maxs else None),
            not (miss_mn or at_cap or any_partial),
            not (miss_mx or any_partial),
            None if nc_unknown or any_partial else nc_sum,
            n_rows_total,
        ))
    return spark.createDataFrame(
        out_rows,
        "column string, min string, max string, min_exact boolean, "
        "max_exact boolean, null_count long, row_count long",
    )
