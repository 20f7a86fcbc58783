"""Scan planning and decode: the one planner both scan paths run.

An encoded dataset is read either through :func:`decode_dataset` or
through the ``upe_encoded`` Spark source
(:mod:`..sources.spark_datasource`).  Both plan here, with pyarrow and no
SparkSession — the reader inside Spark's planning worker, exactly like a
JVM DSv2 ``ScanBuilder``, and ``decode_dataset`` on the driver before its
one Spark job starts:

1. **committed manifest** — manifest rows semi-joined to lineage
   ``status='ok'`` on ``(unit, run_id)``, so orphans from a torn run are
   invisible (:func:`.meta._committed_manifest`, cached per dataset state);
2. **schema** — one meta-only chunk-header probe per schema generation,
   unioned by name (:func:`.meta._probe_chunk_schema`);
3. **unit pruning** — filter terms on the plan's key column keep only
   the encode units whose range boundaries can hold a match;
4. **chunk pruning** — the manifest zone maps (bounds, distinct-value
   sets, null counts) drop chunks no filter group can match
   (:func:`.stats._stats_keep`);
5. **packing** — surviving chunks group into locality-packed scan
   partitions (:func:`_pack_chunk_partitions`) that
   :func:`_read_chunk_partition` decodes on an executor.

This module is also the only code that decodes payload chunks:
compaction packs its rewrite tasks with the same packer and reads them
through :func:`_read_padded`.

Filters are OR-of-AND groups of ``(col, op, value)`` terms (pyarrow's
DNF shape; the reader's pushed Catalyst filters are one group).  Pruning
is conservative — every bound is a superset — so both paths re-apply the
exact predicate to the decoded rows, the parquet row-group-statistics
contract.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
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
from .stats import _normalize_terms, _parse_stats, _stats_keep

DEFAULT_PARTITION_BYTES = 64 << 20


_FILTER_OPS = (
    "<", "<=", ">", ">=", "=", "==", "!=", "<>", "in", "not_in",
    "is_null", "not_null", "startswith", "endswith", "contains",
)


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
    Used by the planner's unit pruning, which both
    :func:`decode_dataset` and the ``upe_encoded`` reader run."""
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
    the requested columns) — chunks predating a column null-pad to it."""

    def __init__(self, payload_dir: str, columns: list[str] | None, chunks: list, fields: list):
        self.payload_dir = payload_dir
        self.columns = columns
        self.chunks = chunks
        self.fields = fields


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
    target_bytes: int = DEFAULT_PARTITION_BYTES,
    spread: int = 1,
    evidence: dict | None = None,
) -> list[_ChunkScanPartition]:
    """Prune the committed manifest ``man`` by unit, then by chunk, and
    pack what survives into scan partitions.

    ``groups`` are OR-of-AND filter groups (``[]`` = no filter): a unit
    or chunk is kept when ANY group keeps it, and a group with no
    prunable term keeps everything.  With ``evidence``, the counts land
    in it: ``units_total`` / ``units_qualifying`` when every group
    bounds the key, and ``total`` / ``qualifying`` — manifest slice rows
    before and after zone-map pruning — when filters are given."""
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
    norm_groups = [_normalize_terms(g, probe_schema) for g in groups]
    return _pack_chunk_partitions(
        man, payload_dir, columns, want_fields, target_bytes,
        norm_groups, probe_schema, spread=spread, evidence=evidence,
    )


def _pack_chunk_partitions(
    man: pa.Table,
    payload_dir: str,
    columns: list[str] | None,
    want_fields: list,
    target_bytes: int,
    norm_groups: list,
    probe_schema: pa.Schema,
    spread: int = 1,
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

    Chunk runs pack into ~``target_bytes`` partitions by payload
    locality; ``spread`` caps the target at the live bytes / ``spread``
    so a small scan still splits into about ``spread`` tasks.  Shared by
    the batch reader, the stream reader (over the manifest rows of one
    offset range), ``decode_dataset`` and compaction (over one rewrite
    task's slices)."""
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

    # a group with no prunable term keeps every chunk
    prune = bool(norm_groups) and all(norm_groups) and "stats" in man.schema.names
    if prune:
        chunk_stats = man.column("stats").take(pa.array(starts)).to_pylist()
    ordered = []
    kept_slices = 0
    for i, (s, e) in enumerate(zip(starts, ends)):
        if prune:
            stats = _parse_stats(chunk_stats[i])
            if stats is not None and not any(
                _stats_keep(stats, g, probe_schema) for g in norm_groups
            ):
                continue
        kept_slices += int(e - s)
        slices = np.stack((row_offs[s:e], n_rows_a[s:e]), axis=1).tolist()
        ordered.append((fnames[fcodes[s]], int(offsets[s]), int(lengths[s]), slices))
    if evidence is not None and norm_groups:
        evidence["total"] = man.num_rows
        evidence["qualifying"] = kept_slices

    if spread > 1:
        live = sum(ch[2] for ch in ordered)
        target_bytes = min(target_bytes, max(1, -(-live // spread)))
    # consecutive chunks of one payload file stay together
    parts: list[_ChunkScanPartition] = []
    cur: list = []
    cur_bytes = 0
    for ch in ordered:
        cur.append(ch)
        cur_bytes += ch[2]
        if cur_bytes >= target_bytes:
            parts.append(_ChunkScanPartition(payload_dir, columns, cur, want_fields))
            cur, cur_bytes = [], 0
    if cur or not parts:
        parts.append(_ChunkScanPartition(payload_dir, columns, cur, want_fields))
    return parts


def _pad_table(tbl: pa.Table, fields: list) -> pa.Table:
    """Conform a decoded chunk to the union schema's requested fields:
    present columns pass through (decode order already matches), absent
    ones become typed all-null columns — rows written before a column
    existed read back as null, the Iceberg add-column semantics.  Shared
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
            cols.append(pa.chunked_array([pa.nulls(tbl.num_rows, f.type)]))
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


def _read_padded(partition: _ChunkScanPartition):
    """Executor-side scan of one packed chunk run: each chunk
    deserializes ONCE — column pruning happens inside the container, so
    excluded columns' buffers are never decompressed, and columns a
    chunk generation predates null-pad from the union schema — and its
    unit-slices yield as Arrow batches in their stored types, so
    compaction re-encodes exactly what was written."""
    handles: dict[str, object] = {}
    try:
        for fname, off, length, slices in partition.chunks:
            fh = handles.get(fname)
            if fh is None:
                fh = handles[fname] = _open_payload(partition.payload_dir, fname)
            fh.seek(off)
            tbl = _pad_table(
                deserialize_chunk(fh.read(length), partition.columns, missing_ok=True),
                partition.fields,
            )
            for roff, nr in slices:
                for b in tbl.slice(roff, nr).to_batches():
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


def decode_dataset(
    spark,
    output_dir: str,
    columns: list[str] | None = None,
    filters: list[tuple[str, str, object]] | None = None,
    pruning_evidence: dict | None = None,
):
    """Read the encoded dataset back as a DataFrame of original rows.

    Only fragments whose (unit, run_id) is recorded ok in lineage are
    read: orphans from a run that crashed between the data commit and the
    lineage commit are silently skipped (their units were re-encoded by
    the resuming run).

    ``filters=[(col, op, value), ...]`` (op in ``< <= > >= = == != <>
    in not_in is_null not_null startswith endswith contains``, terms
    AND-ed; ``endswith``/``contains`` (string columns) have no order
    relation to bounds and prune through the exact distinct-value sets
    only, mirroring the reader's ``StringEndsWith``/``StringContains``
    pushdown; ``in`` /
    ``not_in`` take a non-empty tuple/list; ``in`` prunes when no
    listed value fits the bounds; ``!=``/``not_in`` prune only through
    the distinct-value sets — a chunk whose recorded (exact, non-null)
    value set is a SUBSET of the rejected values matches nothing —
    plus the all-null rejection every comparison gets, because bounds
    can never prove inequality; ``startswith`` (string columns) prunes when no value in
    [min, max] can carry the prefix — the url-prefix scan shape —
    and on distinct-value-set membership when recorded;
    ``is_null``/``not_null`` ignore the value and prune on the recorded
    per-chunk null counts — an all-null chunk, including one whose
    generation predates the column under additive evolution, is also
    skipped for every null-rejecting comparison term) prunes CHUNKS by
    the per-chunk min/max zone maps the encoder
    records in the manifest (:func:`.stats._chunk_stats` — the parquet
    row-group-statistics analog, orthogonal to the unit pruning
    below): a chunk whose recorded bounds cannot satisfy a term is
    skipped before any payload byte is read, a null/absent bound never
    prunes, and the exact predicate is re-applied to the decoded rows.
    Filter columns must be included in ``columns`` when both are given;
    datasets encoded before zone maps existed decode fine (no stats
    column → no pruning).

    Disjunctions use pyarrow's DNF shape: a list of LISTS of terms is
    an OR of AND-groups (``[[("lang", "=", "de")], [("lang", "=",
    "fr")]]``; the flat list stays one conjunction).  A chunk is
    pruned only when EVERY group's recorded stats disqualify it — a
    group with no prunable term keeps all chunks, conservatively
    disabling pruning for the whole disjunction — and
    the exact OR-of-AND predicate is re-applied to decoded rows.  The
    out-of-range-key scan (``key < a OR key >= b``) and the
    multi-category scan are the intended shapes.

    Terms on the PLAN's key column additionally prune whole encode
    UNITS (each group's implied key range via
    :func:`key_range_from_terms`, unioned across the disjunction)
    before any chunk statistics are consulted — a key range is just
    ``[(key, ">=", lo), (key, "<=", hi)]``; a string IN-list on the key
    keeps only the units of its listed points.

    Execution: the scan is planned on the driver by the engine's one
    scan planner (this module's, shared with the ``upe_encoded`` reader)
    from metadata alone, and runs as ONE Spark job — the planned chunk
    partitions are broadcast and decoded by one task each, then the
    exact residual filter applies.  ``pruning_evidence`` (a dict) is
    filled from the planner's own masks at no extra cost:
    ``units_total``/``units_qualifying`` when every group bounds the
    key, and ``total``/``qualifying`` — manifest
    slice rows before and after zone-map pruning — whenever filters are
    given.

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
        if op in ("startswith", "endswith", "contains") and not (
            isinstance(_v, str)
            and (
                pa.types.is_string(probe.field(c).type)
                or pa.types.is_large_string(probe.field(c).type)
            )
        ):
            raise ValueError(
                f"{op} needs a string value on a string column ({c!r})"
            )
        if columns is not None and c not in columns:
            raise ValueError(f"filters need column {c!r} in columns (residual filter)")

    # plan on the driver (metadata only, no Spark job), then run the
    # partitions as ONE job, one task per partition.  Partitions pack to
    # the engine's default size, capped so the live bytes spread over
    # the cluster's cores.
    parts = plan_partitions(
        output_dir, man, probe, columns, fgroups,
        spread=spark.sparkContext.defaultParallelism, evidence=pruning_evidence,
    )
    out = _run_partitions(spark, parts, _read_chunk_partition, out_schema)
    if filters:
        # exact residual for every term (chunk pruning is conservative;
        # _exact_col keeps a dotted name from parsing as a struct path),
        # AND-ed within a group, OR-ed across groups
        def _term_expr(c, op, v):
            col = _exact_col(c)
            if op == "in":
                return col.isin(*v)
            if op == "not_in":
                # SQL NOT IN: null rows never match (same as the chunk
                # pruner's null-rejecting algebra)
                return ~col.isin(*v)
            if op in ("!=", "<>"):
                return col != v
            if op == "is_null":
                return col.isNull()
            if op == "not_null":
                return col.isNotNull()
            if op == "startswith":
                return col.startswith(v)
            if op == "endswith":
                return col.endswith(v)
            if op == "contains":
                return col.contains(v)
            return {
                "<": col < v, "<=": col <= v, ">": col > v, ">=": col >= v
            }.get(op, col == v)

        cond = None
        for g in fgroups:
            gc = None
            for c, op, v in g:
                e = _term_expr(c, op, v)
                gc = e if gc is None else (gc & e)
            cond = gc if cond is None else (cond | gc)
        out = out.where(cond)
    return out
