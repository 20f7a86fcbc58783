"""Scan planning and decode: the one planner both scan paths run.

An encoded dataset is read either through :func:`decode_dataset` or
through the ``upe_encoded`` Spark source
(:mod:`..sources.spark_datasource`).  Both plan here, with pyarrow and no
SparkSession — the reader inside Spark's planning worker, exactly like a
JVM DSv2 ``ScanBuilder``, and ``decode_dataset`` on the driver before its
one Spark job starts.  Only ``decode_dataset`` passes filters, so only
its scans prune (steps 3 and 4) and pre-filter; the reader plans every
chunk and Spark filters the rows it returns:

1. **committed manifest** — manifest rows semi-joined to lineage
   ``status='ok'`` on ``(unit, run_id)``, so orphans from a torn run are
   invisible (:func:`.meta._committed_manifest`, cached per dataset state);
2. **schema** — one meta-only chunk-header probe per schema generation,
   unioned by name (:func:`.meta._probe_chunk_schema`);
3. **unit pruning** — filter terms on the plan's key column keep only
   the encode units whose range boundaries can hold a match;
4. **chunk pruning** — the manifest zone maps (bounds, distinct-value
   sets, null counts), read once per scan into Arrow arrays
   (:func:`.stats._zone_maps`), drop chunks no filter group can match:
   the chunk verdict (:func:`_chunk_keep`) is the read loop's pre-filter
   run over those arrays, each op through its tests in ``_ZONE_OPS``;
5. **packing** — surviving chunks are cut into scan partitions by the
   task-sizing rule of every engine job (:func:`_task_cuts`), and
   :func:`_read_chunk_partition` decodes each on an executor;
6. **read loop** — per chunk, decode the filter columns, evaluate the
   filter with ``pyarrow.compute`` (:func:`_prefilter_mask`), then decode
   the rest only if rows survive, and hand Spark only the survivors;
7. **branch** — a small filtered ``decode_dataset`` runs the read loop on
   the driver; other scans run as one Spark job, one task per partition.

This module is also the only code that decodes payload chunks:
compaction packs its rewrite tasks with the same packer and reads them
through :func:`_read_padded`, with no filter groups.

Filters are OR-of-AND groups of ``(col, op, value)`` terms (pyarrow's
DNF shape), each value converted once per scan by
:func:`_pruning_groups`.  Pruning and the pre-filter are conservative —
each keeps a superset of the matching rows — so ``decode_dataset``
re-applies the exact predicate to the rows Spark receives, the parquet
row-group-statistics contract.
"""

from __future__ import annotations

import operator
import os
import time
from datetime import date, datetime, timezone
from decimal import Decimal
from functools import reduce
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import InputPartition

from ..plans.partitioning import units_for_key_range
from .container import deserialize_chunk
from .meta import (
    _arrow_to_ddl,
    _check_same_type,
    _committed_manifest,
    _ddl_type,
    _load_plan,
    _open_payload,
    _probe_chunk_schema,
)
from .stats import _TS_UNIT_TO_US, _zone_maps, date_value_days, ts_value_us

DEFAULT_PARTITION_BYTES = 64 << 20

# a filtered decode_dataset under both bounds (planned payload, Arrow
# survivors) decodes on the driver.  On a 4-core host the driver lost
# past ~14 MB of payload with few survivors and past ~11 MB of
# survivors (CHANGES.md); the Spark branch gains with more cores, so
# both bounds sit below those points
_DRIVER_DECODE_BYTES = 8 << 20
_DRIVER_SURVIVOR_BYTES = 8 << 20

# the exact residual each op applies in Spark (SQL NOT IN: null rows
# never match, as in the chunk pruner's null-rejecting algebra)
_SPARK_OPS = {
    "<": lambda c, v: c < v, "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v, ">=": lambda c, v: c >= v,
    "=": lambda c, v: c == v, "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v, "<>": lambda c, v: c != v,
    "in": lambda c, v: c.isin(*v), "not_in": lambda c, v: ~c.isin(*v),
    "is_null": lambda c, _v: c.isNull(), "not_null": lambda c, _v: c.isNotNull(),
    "startswith": lambda c, v: c.startswith(v), "endswith": lambda c, v: c.endswith(v),
    "contains": lambda c, v: c.contains(v),
}
_FILTER_OPS = tuple(_SPARK_OPS)
_OP_ALIASES = {"==": "=", "<>": "!="}

# the read loop's pre-filter per NORMALIZED op (_pruning_groups folds
# the aliases), over columns in the zone-map domain
_ARROW_OPS = {
    "<": pc.less, "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal,
    "=": pc.equal, "!=": pc.not_equal,
    "in": lambda a, v: pc.is_in(a, value_set=pa.array(v)),
    "not_in": lambda a, v: pc.invert(pc.is_in(a, value_set=pa.array(v))),
    "is_null": lambda a, _v: pc.is_null(a), "not_null": lambda a, _v: pc.is_valid(a),
    "startswith": lambda a, v: pc.starts_with(a, pattern=v),
    "endswith": lambda a, v: pc.ends_with(a, pattern=v),
    "contains": lambda a, v: pc.match_substring(a, pattern=v),
}


def _prefix_min(z: pa.RecordBatch, v):
    """The zone maps' min cut to the length of prefix ``v``."""
    t = z["min"].type
    if isinstance(v, str) and (pa.types.is_string(t) or pa.types.is_large_string(t)):
        return pc.utf8_slice_codeunits(z["min"], 0, len(v))
    return None


# the chunk verdict per normalized op (:func:`_zone_keep`): the tests a
# chunk's zone maps (:func:`.stats._zone_maps`) must pass for the chunk
# to keep.  A test (zone-map array, op, value) runs _term_mask, None
# standing for the term's own op or value; a test whose array is a tuple
# of tests is the OR over the term's values of their AND.  Every value op
# rejects nulls ("nonnull" > 0) and needs a member of a recorded
# distinct-value set ("values") to pass.  "top" is the max as an upper
# bound in Spark's order (null for floats: NaN sorts above the recorded
# max).  "in" tests each value's bounds as "=" does.
_NONNULL = ("nonnull", ">", 0)
_ANY = (_NONNULL, ("values", None, None))
_EQ = (("min", "<=", None), ("max", ">=", None))
_ZONE_OPS = {
    "is_null": (("nulls", "!=", 0),),
    "not_null": (_NONNULL,),
    "<": _ANY + (("min", "<", None),),
    "<=": _ANY + (("min", "<=", None),),
    ">": _ANY + (("top", ">", None),),
    ">=": _ANY + (("top", ">=", None),),
    "=": _ANY + _EQ,
    "in": _ANY + ((_EQ, None, None),),
    "startswith": _ANY + (("max", ">=", None), (_prefix_min, "<=", None)),
    "!=": _ANY, "not_in": _ANY, "endswith": _ANY, "contains": _ANY,
}


def _term_mask(arr, op: str, v):
    """One normalized term over the column ``arr`` as an Arrow mask, or
    None (keep every row) when ``arr`` is None (a column the chunk
    lacks) or Arrow has no exact case for its type and value.
    Timestamps and dates compare as the zone-map domain's epoch ints,
    decimals at a scale fine enough for any value; float columns keep
    NaN rows (Spark sorts NaN above every number); a null-padded column
    compares as null, as in Spark."""
    if arr is None:
        return None
    t = arr.type
    if op in ("is_null", "not_null"):
        return _ARROW_OPS[op](arr, None)
    date = pa.types.is_date32(t)
    if date or pa.types.is_timestamp(t):
        mult = 1 if date else _TS_UNIT_TO_US[t.unit]
        if mult is None:  # ns has no exact µs domain
            return None
        arr, kinds = pc.multiply(arr.cast(pa.int32() if date else pa.int64()), mult), (int,)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        kinds = (str,)
    elif pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
        kinds = (int, float, Decimal)
    else:
        return None
    vals = v if op in ("in", "not_in") else (v,)
    if not all(isinstance(x, kinds) and not isinstance(x, bool) for x in vals):
        return None
    try:
        if pa.types.is_decimal(t):
            arr = arr.cast(pa.decimal256(76, 38))
        m = _ARROW_OPS[op](arr, v)
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return None
    return pc.or_kleene(m, pc.is_nan(arr)) if pa.types.is_floating(t) else m


def _kleene(groups, mask):
    """The OR over ``groups`` of the Kleene AND of ``mask(*term)`` over
    each group's terms, skipping a term whose mask is None; None when
    some group has no mask left (it keeps everything)."""
    out = None
    for g in groups:
        gm = None
        for term in g:
            m = mask(*term)
            if m is not None:
                gm = m if gm is None else pc.and_kleene(gm, m)
        if gm is None:
            return None
        out = gm if out is None else pc.or_kleene(out, gm)
    return out


def _prefilter_mask(tbl: pa.Table, groups):
    """The normalized DNF ``groups`` over a decoded chunk, or None when
    some group keeps every row: a superset of what Spark's exact residual
    keeps, as every term is (:func:`_term_mask`)."""
    return _kleene(groups, lambda c, op, v: _term_mask(
        tbl.column(c) if c in tbl.column_names else None, op, v))


def _zone_keep(z: pa.RecordBatch, op: str, v):
    """One normalized term's verdict over a column's zone maps: the
    Kleene AND of its :data:`_ZONE_OPS` tests, where a distinct-value
    set passes when any member does."""

    def test(arr, o, x):
        if isinstance(arr, tuple):
            return _kleene([[(a, t, y) for a, t, _ in arr] for y in v], test)
        arr = arr(z, v) if callable(arr) else z[arr]
        o, x = o or op, v if x is None else x
        if arr is None or not pa.types.is_list(arr.type):
            return _term_mask(arr, o, x)
        m = _term_mask(pc.list_flatten(arr), o, x)
        if m is None:
            return None
        hit = np.zeros(len(arr), bool)
        hit[pc.list_parent_indices(arr).filter(pc.fill_null(m, True)).to_numpy()] = True
        return pa.array(hit, mask=arr.is_null().to_numpy(zero_copy_only=False))

    return _kleene([_ZONE_OPS[op]], test)


def _chunk_keep(stats, groups, schema: pa.Schema) -> np.ndarray:
    """The zone-map verdict over every chunk (``stats``, one JSON per
    chunk): the normalized DNF ``groups`` run over the chunks' zone maps
    as the read loop's pre-filter runs over rows (:func:`_zone_keep`).
    A chunk is pruned only when its recorded stats prove that no group
    can match; an unknown (null) verdict keeps it."""
    _rows, maps = _zone_maps(stats, schema, {t[0] for g in groups for t in g})
    keep = _kleene(groups, lambda c, op, v: _zone_keep(maps[c], op, v))
    if keep is None:
        return np.ones(len(stats), bool)
    return pc.fill_null(keep, True).to_numpy(zero_copy_only=False)


def _filter_groups(filters) -> list[list[tuple]]:
    """Normalize ``filters`` to OR-of-AND groups (pyarrow's DNF
    convention): a flat list of ``(col, op, value)`` TUPLES is one
    conjunction; a list of LISTS is a disjunction of conjunctions.
    A tuple element is a term, a list element is a group — mixing the
    two shapes is ambiguous and raises."""
    kinds = {isinstance(f, list) for f in filters}
    if kinds == {True}:
        groups = filters
    elif kinds == {False}:
        groups = [filters]
    else:
        raise ValueError(
            "filters must be all (col, op, value) terms (AND) or all "
            "lists of terms (OR of ANDs), not a mix"
        )
    for g in groups:
        if not g:
            raise ValueError("empty AND-group in filters")
        for t in g:
            if not (isinstance(t, tuple) and len(t) == 3):
                raise ValueError(
                    f"filter term must be a (col, op, value) tuple: {t!r}"
                )
    return groups


def key_range_from_terms(terms, key_col: str) -> tuple[str | None, str | None]:
    """Tightest ``[lo, hi]`` (None = open) the KEY-column terms of ONE
    conjunction imply: ``>``/``>=``/``=`` contribute ``lo`` (strict
    bounds stay a superset — the residual filter is exact), ``<``/
    ``<=``/``=`` contribute ``hi``, ``startswith p`` contributes
    ``lo = p`` only (every match is ≥ its own prefix; a sound upper
    bound needs prefix-successor arithmetic the unit pruner doesn't
    require), and a string IN-list contributes its [min, max].
    Non-string operands never contribute (the key domain is string).
    Used by the planner's unit pruning of :func:`decode_dataset`'s
    filters."""
    lo = hi = None
    for col, op, v in terms:
        if col != key_col:
            continue
        if op == "in" and isinstance(v, (tuple, list)) and v and all(
            isinstance(x, str) for x in v
        ):
            vlo, vhi = min(v), max(v)
            lo = vlo if lo is None or vlo > lo else lo
            hi = vhi if hi is None or vhi < hi else hi
            continue
        if not isinstance(v, str):
            continue
        if op in (">", ">=", "=", "=="):
            lo = v if lo is None or v > lo else lo
        if op in ("<", "<=", "=", "=="):
            hi = v if hi is None or v < hi else hi
        if op == "startswith":
            lo = v if lo is None or v > lo else lo
    return lo, hi


def _exact_col(name: str):
    """Column reference resolving the EXACT name — backtick-quoted so a
    dotted name ("meta.lang") is never parsed as a struct path."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


# ---------------------------------------------------------------------------
# planning
# ---------------------------------------------------------------------------


class _ChunkScanPartition(InputPartition):
    """One scan task: a locality-packed run of chunks.  ``chunks`` is
    ``[(file, offset, length, [(row_off, n_rows), ...]), ...]`` sorted by
    (file, offset) so the read loop deserializes each chunk once.
    ``fields`` are the output Arrow fields (union schema restricted to
    the requested columns) — chunks predating a column null-pad to it.
    ``groups`` (normalized filter groups) are the read loop's pre-filter."""

    def __init__(
        self, payload_dir: str, columns: list[str] | None, chunks: list, fields: list, groups=()
    ):
        self.payload_dir = payload_dir
        self.columns = columns
        self.chunks = chunks
        self.fields = fields
        self.groups = groups


def _group_units(plan, groups) -> np.ndarray | None:
    """Sorted unit ids any filter group can match, or None when some
    group leaves the key unbounded (then every unit qualifies).  Each
    group's key terms imply one key range (:func:`key_range_from_terms`);
    a string IN-list on the key further narrows its group to the units
    of the listed points — the point-lookup-list pattern."""
    allowed: set[int] = set()
    for g in groups:
        lo, hi = key_range_from_terms(g, plan.key_col)
        if lo is None and hi is None:
            return None
        units = set(units_for_key_range(plan, lo, hi))
        for col, op, v in g:
            if col == plan.key_col and op == "in" and all(isinstance(x, str) for x in v):
                pts: set[int] = set()
                for x in v:
                    pts.update(units_for_key_range(plan, x, x))
                units &= pts
        allowed |= units
    return np.asarray(sorted(allowed), dtype=np.int64)


def plan_partitions(
    output_dir: str,
    man: pa.Table,
    probe_schema: pa.Schema,
    columns: list[str] | None,
    groups: list,
    *,
    target_bytes: float = DEFAULT_PARTITION_BYTES,
    parallelism: int = 1,
    evidence: dict | None = None,
) -> list[_ChunkScanPartition]:
    """Prune the committed manifest ``man`` by unit, then by chunk, and
    pack what survives into scan partitions (:func:`_task_cuts`).

    ``groups`` are OR-of-AND filter groups as :func:`_pruning_groups`
    returns them (``[]`` = no filter): a unit or chunk is kept when ANY
    group keeps it, and a group with no prunable term keeps everything.
    With ``evidence``, the counts land in it: ``units_total`` /
    ``units_qualifying`` when every group bounds the key, and ``total``
    / ``qualifying`` — manifest slice rows before and after zone-map
    pruning — when filters are given."""
    payload_dir = os.path.join(output_dir, "payload")
    want_fields = [probe_schema.field(c) for c in columns] if columns else list(probe_schema)
    plan = _load_plan(output_dir) if groups else None
    allowed = _group_units(plan, groups) if plan is not None else None
    if allowed is not None:
        if evidence is not None:
            evidence["units_total"] = plan.n_units
            evidence["units_qualifying"] = int(allowed.size)
        units = man.column("unit").to_numpy(zero_copy_only=False).astype(np.int64)
        keep = np.isin(units, allowed)
        if not keep.all():
            man = man.filter(pa.array(keep))
    return _pack_chunk_partitions(
        man, payload_dir, columns, want_fields, target_bytes,
        groups, probe_schema, parallelism=parallelism, evidence=evidence,
    )


def _task_cuts(weights, parallelism: int, target: float = DEFAULT_PARTITION_BYTES) -> np.ndarray:
    """Every engine job's task-sizing rule.  Ordered items, weighted by
    the bytes each reads from storage, go to ``n = min(items,
    max(parallelism, ceil(total / target)))`` contiguous tasks, each item
    by the quantile of its midpoint, so no task is empty; a heavy item may
    leave fewer than ``n``.  ``target = inf`` pins ``n``.  Returns cuts:
    task ``k`` is items ``cuts[k]:cuts[k + 1]``; no items give one empty task."""
    w = np.asarray(weights, dtype=np.float64)
    n = min(w.size, max(parallelism, int(np.ceil(w.sum() / target))))
    task = np.floor((np.cumsum(w) - w / 2) * n / w.sum()).astype(np.int64)
    return np.concatenate(([0], np.flatnonzero(np.diff(task)) + 1, [w.size]))


def _pack_chunk_partitions(
    man: pa.Table,
    payload_dir: str,
    columns: list[str] | None,
    want_fields: list,
    target_bytes: float,
    norm_groups: list,
    probe_schema: pa.Schema,
    parallelism: int = 1,
    evidence: dict | None = None,
) -> list[_ChunkScanPartition]:
    """Group manifest rows (unit-slices) by their chunk, VECTORIZED:
    the (file, offset, row_off) sort runs in Arrow C++, chunk boundaries
    come from one numpy change-point scan, and per-chunk metadata is
    gathered with ``take`` on the boundary indices — planning cost is
    O(rows) in C plus O(chunks) in Python, never O(rows) Python objects
    (at 100 TB the committed manifest is ~10^7 fragment rows).  The
    zone-map verdict runs once per CHUNK (slices of a chunk share its
    stats), over the DNF ``norm_groups`` (``[]`` = keep every chunk).

    The chunks, in payload order and weighted by length, are cut into
    partitions by :func:`_task_cuts`.  Shared by the batch reader, the
    stream reader (over the manifest rows of one offset range),
    ``decode_dataset`` and compaction (one rewrite task's slices)."""
    man = man.sort_by(
        [("file", "ascending"), ("offset", "ascending"), ("row_off", "ascending")]
    )
    offsets = man.column("offset").to_numpy(zero_copy_only=False)
    lengths = man.column("length").to_numpy(zero_copy_only=False)
    row_offs = man.column("row_off").to_numpy(zero_copy_only=False)
    n_rows_a = man.column("n_rows").to_numpy(zero_copy_only=False)
    fdict = man.column("file").combine_chunks().dictionary_encode()
    fcodes = fdict.indices.to_numpy(zero_copy_only=False)
    fnames = fdict.dictionary.to_pylist()
    if man.num_rows:
        change = np.flatnonzero(
            (fcodes[1:] != fcodes[:-1]) | (offsets[1:] != offsets[:-1])
        )
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [man.num_rows]))
    else:  # every unit pruned
        starts = ends = np.array([], dtype=np.int64)

    # a group with no prunable term keeps every chunk and every row
    groups = norm_groups if norm_groups and all(norm_groups) else []
    if groups and "stats" in man.schema.names:
        keep = _chunk_keep(man.column("stats").take(starts).combine_chunks(), groups, probe_schema)
        starts, ends = starts[keep], ends[keep]
    ordered = []
    for s, e in zip(starts, ends):
        slices = np.stack((row_offs[s:e], n_rows_a[s:e]), axis=1).tolist()
        ordered.append((fnames[fcodes[s]], int(offsets[s]), int(lengths[s]), slices))
    if evidence is not None and norm_groups:
        evidence["total"] = man.num_rows
        evidence["qualifying"] = int((ends - starts).sum())

    cuts = _task_cuts(lengths[starts], parallelism, target_bytes)
    return [
        _ChunkScanPartition(payload_dir, columns, ordered[s:e], want_fields, groups)
        for s, e in zip(cuts[:-1], cuts[1:])
    ]


def _pad_table(tbl: pa.Table, fields: list, n_rows: int) -> pa.Table:
    """Conform a decoded chunk to the union schema's requested fields:
    present columns pass through (decode order already matches), absent
    ones become typed all-null columns — rows written before a column
    existed read back as null, the Iceberg add-column semantics (``n_rows``
    of them when the chunk holds none of ``fields``).  Shared
    columns are type-CHECKED (by normalized DDL, so large/small string
    and timestamp-unit differences stay benign): a type flip between
    chunk generations with identical column-name sets is invisible to
    the union probe (one probe per name set), so this per-chunk check is
    where it surfaces — a loud schema-conflict error, never a silent
    cast."""
    names = tbl.schema.names
    for f in fields:
        if f.name in names:
            _check_same_type(f.name, _ddl_type(tbl.schema.field(f.name).type), _ddl_type(f.type))
    if names == [f.name for f in fields]:
        return tbl
    cols = []
    for f in fields:
        if f.name in names:
            cols.append(tbl.column(f.name))
        else:
            cols.append(pa.chunked_array([pa.nulls(tbl.num_rows if names else n_rows, f.type)]))
    return pa.table(cols, names=[f.name for f in fields])


def _normalize_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """large_string/large_binary → string/binary for Spark compatibility."""
    cols = []
    fields = []
    for i, f in enumerate(batch.schema):
        col = batch.column(i)
        if pa.types.is_large_string(f.type):
            col = col.cast(pa.string())
        elif pa.types.is_large_binary(f.type):
            col = col.cast(pa.binary())
        elif pa.types.is_large_list(f.type) or pa.types.is_fixed_size_list(f.type):
            col = col.cast(pa.list_(f.type.value_type))
        elif pa.types.is_timestamp(f.type) and (f.type.unit, f.type.tz) != ("us", "UTC"):
            # one convention regardless of fragment provenance: µs UTC.
            # Naive inputs are UTC instants (Spark internal micros), and a
            # naive->aware cast attaches the zone without changing values.
            col = col.cast(pa.timestamp("us", "UTC"))
        cols.append(col)
        fields.append(pa.field(f.name, col.type, f.nullable))
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


def _decode_fields(payload: bytes, fields: list, n_rows: int) -> pa.Table:
    return _pad_table(deserialize_chunk(payload, [f.name for f in fields], missing_ok=True), fields, n_rows)


def _read_padded(partition: _ChunkScanPartition):
    """Executor-side scan of one packed chunk run: each chunk
    deserializes ONCE — column pruning happens inside the container, so
    excluded columns' buffers are never decompressed, and columns a
    chunk generation predates null-pad from the union schema — and its
    unit-slices yield as Arrow batches in their stored types, so
    compaction re-encodes exactly what was written.  With filter
    ``groups``, a chunk's filter columns decode first, and only its
    pre-filter survivors (:func:`_prefilter_mask`) decode and yield."""
    fcols = {t[0] for g in partition.groups for t in g}
    ffields = [f for f in partition.fields if f.name in fcols]
    handles: dict[str, object] = {}
    try:
        for fname, off, length, slices in partition.chunks:
            fh = handles.get(fname)
            if fh is None:
                fh = handles[fname] = _open_payload(partition.payload_dir, fname)
            fh.seek(off)
            payload = fh.read(length)
            n = max(r + k for r, k in slices)
            got, mask = {}, None
            if ffields:  # the filter columns decode once, first
                ftbl = _decode_fields(payload, ffields, n)
                mask = _prefilter_mask(ftbl, partition.groups)
                got = dict(zip(ftbl.column_names, ftbl.columns))
            picks = [(r, k, None if mask is None else mask.slice(r, k)) for r, k in slices]
            picks = [p for p in picks if p[2] is None or pc.any(p[2]).as_py()]
            if not picks:
                continue
            rest = [f for f in partition.fields if f.name not in got]
            if rest:
                rtbl = _decode_fields(payload, rest, n)
                got.update(zip(rtbl.column_names, rtbl.columns))
            tbl = pa.table([got[f.name] for f in partition.fields], names=[f.name for f in partition.fields])
            for roff, nr, m in picks:
                part = tbl.slice(roff, nr)
                for b in (part if m is None else part.filter(m)).to_batches():
                    if b.num_rows:
                        yield b
    finally:
        for fh in handles.values():
            fh.close()


def _read_chunk_partition(partition: _ChunkScanPartition):
    """:func:`_read_padded` with every batch in Spark's Arrow types
    (:func:`_normalize_batch`) — the read both scan paths hand to Spark."""
    for b in _read_padded(partition):
        yield _normalize_batch(b)


def _run_partitions(spark, parts: list, read, schema):
    """ONE Spark job over planned partitions: ``parts`` are broadcast,
    and a JVM-native range source gives each task one index, whose
    partition ``read`` turns into Arrow batches of ``schema``."""
    bparts = spark.sparkContext.broadcast(parts)

    def run(iterator):
        planned = bparts.value
        for batch in iterator:
            for i in batch.column("id").to_pylist():
                yield from read(planned[i])

    return spark.range(len(parts), numPartitions=len(parts)).mapInArrow(run, schema)


def _collect_tasks(spark, parts: list, fn, schema: pa.Schema) -> pa.Table:
    """ONE Spark job with no SQL, for work whose rows never enter the JVM
    (the parquet encode stage, compaction's rewrite): ``parts`` are
    broadcast, each entry runs as one Python RDD task, and the Arrow
    batches ``fn(part)`` yields are pickled to the driver as one table of
    ``schema``.  Work that reads or returns a DataFrame stays in SQL
    (``encode_job``'s ``mapInArrow``, :func:`_run_partitions`)."""
    bparts = spark.sparkContext.broadcast(parts)

    def run(indices):
        for i in indices:
            yield from fn(bparts.value[i])

    batches = spark.sparkContext.parallelize(range(len(parts)), len(parts)).mapPartitions(run).collect()
    return pa.Table.from_batches(batches, schema)


def _pruning_groups(spark, groups, schema: pa.Schema) -> list:
    """``groups`` as pruning and the pre-filter read them: each value is
    converted once per scan, not per chunk, in this order:

    1. ``==``/``<>`` become ``=``/``!=``;
    2. a term on a column ``schema`` lacks is dropped;
    3. so is a term whose number Spark compares in a lossy wider type (a
       float on an integer or decimal column; a decimal, or an int past
       2**24, on a float column) or a float NaN, which has no place in
       the bounds' order;
    4. a naive datetime becomes the instant its literal means in Spark's
       residual: PySpark reads it in the driver's local zone
       (``time.mktime``), or, when the session prefers
       ``TIMESTAMP_NTZ``, as an NTZ literal that Spark casts in the
       session zone (a zone zoneinfo cannot read drops the term); both
       scan paths read every timestamp column back as a Spark TIMESTAMP,
       a naive stored one as UTC;
    5. values move to the zone-map domain: timestamps to epoch-µs ints,
       dates to epoch-day ints, decimals to ``Decimal``; a value that
       does not convert drops its term.

    A dropped term still applies in the exact residual; here it keeps
    every row."""
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    naive = any(isinstance(x, datetime) and x.tzinfo is None for g in groups for *_, v in g
                for x in (v if isinstance(v, (list, tuple)) else (v,)))
    ntz, zone = naive and is_timestamp_ntz_preferred(), None
    if ntz:
        try:
            zone = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
        except (KeyError, ValueError):
            pass

    def value(x, t):
        number = isinstance(x, (int, Decimal)) and not isinstance(x, bool)
        if (isinstance(x, float) and (x != x or pa.types.is_integer(t) or pa.types.is_decimal(t))) or (
            pa.types.is_floating(t) and number and not (isinstance(x, int) and abs(x) <= 1 << 24)
        ):
            raise ValueError(x)  # NaN, or compared in a lossy wider type
        if isinstance(x, datetime) and x.tzinfo is None:
            if not ntz:
                secs = int(time.mktime(x.timetuple()))
                x = datetime.fromtimestamp(secs, timezone.utc).replace(microsecond=x.microsecond)
            elif zone is None:
                raise ValueError(x)  # a session zone zoneinfo cannot read
            else:
                x = x.replace(tzinfo=zone)
        if pa.types.is_timestamp(t) or pa.types.is_date(t):
            kind, conv = (datetime, ts_value_us) if pa.types.is_timestamp(t) else (date, date_value_days)
            if not isinstance(x, kind):
                raise ValueError(x)
            return conv(x)
        return Decimal(str(x)) if pa.types.is_decimal(t) else x

    out = []
    for g in groups:
        terms = []
        for c, op, v in g:
            op = _OP_ALIASES.get(op, op)
            if c not in schema.names:
                continue
            if op in ("is_null", "not_null"):
                terms.append((c, op, None))
                continue
            many, t = op in ("in", "not_in"), schema.field(c).type
            try:
                vals = tuple(value(x, t) for x in (v if many else (v,)))
            except (TypeError, ValueError, ArithmeticError, AttributeError):
                continue
            terms.append((c, op, vals if many else vals[0]))
        out.append(terms)
    return out


def decode_dataset(
    spark,
    output_dir: str,
    columns: list[str] | None = None,
    filters: list[tuple[str, str, object]] | None = None,
    pruning_evidence: dict | None = None,
):
    """Read the encoded dataset back as a DataFrame of original rows.

    Only fragments whose (unit, run_id) is recorded ok in lineage are
    read: orphans from a run that crashed between the data commit and
    the lineage commit are skipped (the resuming run re-encoded them).

    ``filters`` are ``(col, op, value)`` terms, AND-ed in a flat list; a
    list of LISTS is pyarrow's DNF, an OR of AND-groups (``[[("lang",
    "=", "de")], [("lang", "=", "fr")]]``).  ``op`` is one of
    ``_FILTER_OPS``: ``in``/``not_in`` take a non-empty list, and
    ``startswith``/``endswith``/``contains`` a string on a string
    column.  Filter columns must be in ``columns`` when both are given.
    Pruning and the pre-filter read each value as the residual does
    (:func:`_pruning_groups`): a naive ``datetime`` is the instant
    PySpark's literal means, the driver's local wall clock unless the
    session prefers ``TIMESTAMP_NTZ``.

    Pruning is conservative (a null or absent bound never prunes), and
    the exact predicate is re-applied to the rows Spark receives:

    - terms on the plan's key column prune whole encode UNITS: each
      group's key range (:func:`key_range_from_terms`), unioned across
      groups; a string IN-list keeps only the units of its points;
    - the manifest zone maps prune CHUNKS (:func:`_chunk_keep`, the
      pre-filter run over them): min/max bounds for comparisons, ``in``
      and ``startswith``; the exact distinct-value sets for every value
      op (a chunk none of whose values passes); null counts for
      ``is_null``/``not_null``; and an all-null chunk, also one from a
      generation that predates the column, for every null-rejecting
      term.  A chunk is pruned only when EVERY group disqualifies it.
      Datasets encoded before zone maps decode unpruned.

    Execution: the scan is planned on the driver by the engine's one
    scan planner (this module's, shared with the ``upe_encoded`` reader)
    from metadata alone.  Each planned partition's read loop decodes
    the filter columns first and keeps only the rows the Arrow
    pre-filter can match.  A filtered scan whose planned payload is
    under ``_DRIVER_DECODE_BYTES`` runs that read loop on the driver:
    decoding then happens when ``decode_dataset`` is CALLED, not at the
    action, and Spark gets the survivors as a local relation (unless
    they pass ``_DRIVER_SURVIVOR_BYTES``, which falls back to a Spark
    job).  Every other scan, and every call without filters, runs as
    ONE Spark job — the planned chunk partitions are broadcast and
    decoded by one task each.  ``pruning_evidence`` (a dict) is filled
    from the planner's own masks at no extra cost:
    ``units_total``/``units_qualifying`` when every group bounds the
    key, ``total``/``qualifying`` — manifest slice rows before and
    after zone-map pruning — whenever filters are given, and ``branch``
    (``"driver"`` or ``"spark"``) always; the driver branch adds
    ``rows_decoded`` (rows of the planned slices) and ``rows_kept``
    (the pre-filter's survivors).

    Schema evolution (additive): appends may add or omit columns — the
    output schema is the union-by-name over all chunk generations
    (meta-only probes), and generations that predate a column read back
    as nulls; a column whose TYPE differs between generations raises a
    schema-conflict error rather than casting silently."""
    fgroups = _filter_groups(filters) if filters else []

    # the schema comes from the whole committed manifest, before any
    # pruning: it must (a) survive a range that prunes every unit (typed
    # empty result) and (b) never probe an orphan manifest row — after
    # vacuum(rewrite_manifest=False), the documented object-store mode,
    # orphan rows outlive their deleted payload files
    man = _committed_manifest(output_dir)
    probe = _probe_chunk_schema(output_dir, man)
    if columns:
        missing = [c for c in columns if c not in probe.names]
        if missing:
            raise ValueError(f"columns not in dataset: {missing}")
    out_schema = _arrow_to_ddl(probe, columns)

    for c, op, _v in (t for g in fgroups for t in g):
        if op not in _FILTER_OPS:
            raise ValueError(f"unsupported filter op {op!r} (use one of {_FILTER_OPS})")
        if op in ("in", "not_in") and not _v:
            raise ValueError(f"empty {op.upper()}-list for filter column {c!r}")
        if c not in probe.names:
            raise ValueError(f"filter column {c!r} not in dataset schema")
        t = probe.field(c).type
        if op in ("startswith", "endswith", "contains") and not (
            isinstance(_v, str) and (pa.types.is_string(t) or pa.types.is_large_string(t))
        ):
            raise ValueError(f"{op} needs a string value on a string column ({c!r})")
        if columns is not None and c not in columns:
            raise ValueError(f"filters need column {c!r} in columns (residual filter)")

    # plan on the driver (metadata only, no Spark job), reading each
    # value as the residual does, cut into tasks by :func:`_task_cuts`
    parts = plan_partitions(
        output_dir, man, probe, columns, _pruning_groups(spark, fgroups, probe),
        parallelism=spark.sparkContext.defaultParallelism, evidence=pruning_evidence,
    )
    batches = None
    if fgroups and sum(ch[2] for p in parts for ch in p.chunks) < _DRIVER_DECODE_BYTES:
        batches, size = [], 0
        for b in (b for p in parts for b in _read_chunk_partition(p)):
            size += b.nbytes
            if size > _DRIVER_SURVIVOR_BYTES:  # cheaper as a Spark job
                batches = None
                break
            batches.append(b)
    if batches is not None:
        # the survivors reach Spark as a local relation: no Python job
        # (an empty list would make an RDD, and the action a Python job)
        empty = pa.RecordBatch.from_pylist([], schema=pa.schema(parts[0].fields))
        out = spark.createDataFrame(pa.Table.from_batches(batches or [_normalize_batch(empty)]), out_schema)
        branch = {"branch": "driver", "rows_kept": sum(b.num_rows for b in batches),
                  "rows_decoded": sum(nr for p in parts for *_, sl in p.chunks for _, nr in sl)}
    else:
        # ONE Spark job, one task per partition
        out = _run_partitions(spark, parts, _read_chunk_partition, out_schema)
        branch = {"branch": "spark"}
    if pruning_evidence is not None:
        pruning_evidence.update(branch)
    if fgroups:
        # the exact residual (pruning and the pre-filter are conservative;
        # _exact_col keeps a dotted name from parsing as a struct path)
        terms = [[_SPARK_OPS[op](_exact_col(c), v) for c, op, v in g] for g in fgroups]
        out = out.where(reduce(operator.or_, [reduce(operator.and_, g) for g in terms]))
    return out
