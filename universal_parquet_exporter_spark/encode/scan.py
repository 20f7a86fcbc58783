"""Scan planning: the one planner both scan paths run.

An encoded dataset is read either through :func:`.pipeline.decode_dataset`
or through the ``upe_encoded`` Spark source
(:mod:`..sources.spark_datasource`).  Both plan here, with pyarrow and no
SparkSession — the reader inside Spark's planning worker, exactly like a
JVM DSv2 ``ScanBuilder``, and ``decode_dataset`` on the driver before its
one Spark job starts:

1. **committed manifest** — manifest rows semi-joined to lineage
   ``status='ok'`` on ``(unit, run_id)``, so orphans from a torn run are
   invisible (:func:`_committed_manifest`, cached per dataset state);
2. **schema** — one meta-only chunk-header probe per schema generation,
   unioned by name (:func:`_probe_chunk_schema`);
3. **unit pruning** — key-column terms and an explicit key range keep
   only the encode units whose range boundaries can hold a match;
4. **chunk pruning** — the manifest zone maps (bounds, distinct-value
   sets, null counts) drop chunks no filter group can match
   (:func:`_chunk_keep`);
5. **packing** — surviving chunks group into locality-packed scan
   partitions (:func:`_pack_chunk_partitions`) that
   :func:`_read_chunk_partition` decodes on an executor.

Filters are OR-of-AND groups of ``(col, op, value)`` terms (pyarrow's
DNF shape; the reader's pushed Catalyst filters are one group).  Pruning
is conservative — every bound is a superset — so both paths re-apply the
exact predicate to the decoded rows, the parquet row-group-statistics
contract.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import InputPartition

from ..plans.partitioning import units_for_key_range
from .container import deserialize_chunk
from .pipeline import (
    MANIFEST_PA_SCHEMA,
    _load_plan,
    _normalize_batch,
    _ok_lineage,
    _open_payload,
    _pad_table,
    _payload_fs,
    _read_meta_table,
    _union_probe_schema,
    date_value_days,
    key_range_from_terms,
    manifest_dir,
    ts_value_us,
)

DEFAULT_PARTITION_BYTES = 64 << 20


# ---------------------------------------------------------------------------
# committed manifest + schema (metadata only)
# ---------------------------------------------------------------------------


def _meta_files(path: str) -> tuple[str, ...] | None:
    """Sorted names of the files a metadata-directory read sees (the
    ``.``/``_``-prefixed temp files and markers pyarrow.dataset ignores
    are left out); None when the directory does not exist."""
    from pyarrow.fs import FileSelector

    fs, root = _payload_fs(path)
    try:
        names = [i.base_name for i in fs.get_file_info(FileSelector(root))]
    except OSError:
        return None
    return tuple(sorted(n for n in names if not n.startswith((".", "_"))))


def _meta_state_token(output_dir: str) -> tuple:
    """Freshness key for the manifest cache: the live manifest directory
    (the ``manifest_current`` pointer's target) plus the names of the
    committed manifest and lineage files.  Every commit adds a file under
    a fresh name (temp write + rename) and every rewrite swaps the
    pointer, so the key changes exactly when the committed state does —
    unlike a directory mtime, which a coarse-grained clock or a restored
    timestamp can leave unchanged."""
    mdir = manifest_dir(output_dir)
    return (mdir, _meta_files(mdir), _meta_files(os.path.join(output_dir, "lineage")))


_MANIFEST_CACHE: dict[str, tuple[tuple, pa.Table]] = {}
_MANIFEST_COLS = ["unit", "run_id", "file", "offset", "length", "row_off", "n_rows", "bytes_out", "stats", "codecs"]


def _committed_manifest(output_dir: str) -> pa.Table:
    """Committed manifest rows: the lineage ``status='ok'`` semi-join on
    ``(unit, run_id)``.  At nominal scale this is manifest METADATA
    (fragment rows, not data), but it is ~10^7 rows at 100 TB, so the
    join runs entirely in Arrow (hash semi-join in C++, zero per-row
    Python objects) and the result is cached per dataset state
    (:func:`_meta_state_token`): a plan's ``schema()``, ``partitions()``
    and the append-schema guard, and back-to-back ``decode_dataset``
    calls, share one load."""
    token = _meta_state_token(output_dir)
    hit = _MANIFEST_CACHE.get(output_dir)
    if hit is not None and hit[0] == token:
        return hit[1]
    man = _read_meta_table(token[0], _MANIFEST_COLS)
    ok = _ok_lineage(output_dir, ["unit", "run_id"])
    if man is None or ok is None or man.num_rows == 0:
        out = MANIFEST_PA_SCHEMA.empty_table().select(_MANIFEST_COLS)
    else:
        ok = ok.group_by(["unit", "run_id"]).aggregate([])  # distinct — join keys must be unique
        out = man.join(ok, keys=["unit", "run_id"], join_type="left semi")
    # re-validate: a commit racing this load leaves the result uncached
    if _meta_state_token(output_dir) == token:
        _MANIFEST_CACHE[output_dir] = (token, out)
        if len(_MANIFEST_CACHE) > 64:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    return out


def _probe_chunk_schema(output_dir: str, man: pa.Table) -> pa.Schema:
    """Union-by-name schema over committed chunks (orphan-safe — rows
    came through the lineage semi-join): one meta-only probe per
    distinct column-name set, taken from the manifest's own codecs maps
    (distinct codecs STRINGS are deduped before any JSON parse, so
    planning cost tracks codec diversity, not row count)."""
    if man.num_rows == 0:
        raise ValueError(f"empty encoded dataset at {output_dir}")
    payload_dir = os.path.join(output_dir, "payload")
    files = man.column("file").to_pylist()
    offsets = man.column("offset").to_pylist()
    codecs = man.column("codecs").to_pylist() if "codecs" in man.schema.names else [None] * man.num_rows
    by_ns: dict[tuple, tuple[str, int]] = {}
    seen_cj: set = set()
    for i, cj in enumerate(codecs):
        if cj in seen_cj:
            continue
        seen_cj.add(cj)
        ns = tuple(sorted(json.loads(cj).keys())) if cj else ("",)
        by_ns.setdefault(ns, (files[i], offsets[i]))
    return _union_probe_schema(payload_dir, sorted(by_ns.values()))


# ---------------------------------------------------------------------------
# the zone-map evaluator
# ---------------------------------------------------------------------------

_OP_ALIASES = {"==": "=", "<>": "!="}


def _normalize_terms(terms, schema: pa.Schema):
    """Convert term values to the zone-map domain ONCE per scan (not per
    chunk): timestamps → epoch-µs ints, dates → epoch-days ints,
    decimals → ``Decimal`` (their bounds are stored as exact strings and
    re-typed in :func:`_chunk_keep`); ``==``/``<>`` become ``=``/``!=``.
    Terms whose column is absent from the schema or whose value can't
    convert (or is a float NaN, which has no place in the bounds' order)
    are dropped from PRUNING — the exact residual still applies them."""
    from datetime import date, datetime
    from decimal import Decimal

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
        try:
            if pa.types.is_timestamp(t):
                if op in ("in", "not_in"):
                    v = tuple(ts_value_us(x) for x in v)
                elif isinstance(v, datetime):
                    v = ts_value_us(v)
                else:
                    continue
            elif pa.types.is_date(t):
                if op in ("in", "not_in"):
                    v = tuple(date_value_days(x) for x in v)
                elif isinstance(v, date):
                    v = date_value_days(v)
                else:
                    continue
            elif pa.types.is_decimal(t):
                if op in ("in", "not_in"):
                    v = tuple(Decimal(str(x)) for x in v)
                else:
                    v = Decimal(str(v))
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


def _chunk_keep(stats_json: str | None, terms, schema: pa.Schema) -> bool:
    """Zone-map verdict for ONE chunk and one AND-group of terms: False
    only when the recorded stats PROVE a term can't match (missing or
    partial stats keep).  This is the engine's one pruning evaluator —
    the reader and ``decode_dataset`` both plan through it, and neither
    runs a Spark job to prune.  Terms must be pre-normalized
    (:func:`_normalize_terms`); decimal bounds are stored as exact
    strings and re-typed here."""
    stats = _parse_stats(stats_json)
    return stats is None or _stats_keep(stats, terms, schema)


def _stats_keep(stats: dict, terms, schema: pa.Schema | None) -> bool:
    from decimal import Decimal

    def is_decimal(col):
        return schema is not None and col in schema.names and pa.types.is_decimal(
            schema.field(col).type
        )

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
        # exact distinct-value sets (≤ _STATS_DV_MAX values recorded):
        # equality/IN/prefix prune on MEMBERSHIP — the interleaved-
        # categorical case min/max bounds can never exclude
        dv = dv_map.get(col)
        if dv is not None and is_decimal(col):
            try:
                dv = [Decimal(str(x)) for x in dv]
            except ArithmeticError:
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
        if is_decimal(col):
            try:
                mn = None if mn is None else Decimal(str(mn))
                mx = None if mx is None else Decimal(str(mx))
            except ArithmeticError:
                continue
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
    key_range: tuple[str | None, str | None] | None = None,
    target_bytes: int = DEFAULT_PARTITION_BYTES,
    spread: int = 1,
    evidence: dict | None = None,
) -> list[_ChunkScanPartition]:
    """Prune the committed manifest ``man`` by unit, then by chunk, and
    pack what survives into scan partitions.

    ``groups`` are OR-of-AND filter groups (``[]`` = no filter): a unit
    or chunk is kept when ANY group keeps it, and a group with no
    prunable term keeps everything.  ``key_range=(lo, hi)`` (inclusive,
    None = open) keeps only the units that can hold such keys.  With
    ``evidence``, the counts land in it: ``units_total`` /
    ``units_qualifying`` when a ``key_range`` is given or every group
    bounds the key, and ``total`` / ``qualifying`` — manifest slice rows
    before and after zone-map pruning — when filters are given."""
    payload_dir = os.path.join(output_dir, "payload")
    want_fields = [probe_schema.field(c) for c in columns] if columns else list(probe_schema)
    plan = _load_plan(output_dir) if (groups or key_range is not None) else None
    if plan is not None:
        allowed = _group_units(plan, groups) if groups else None
        if key_range is not None:
            kr_units = np.asarray(units_for_key_range(plan, *key_range), dtype=np.int64)
            allowed = kr_units if allowed is None else np.intersect1d(allowed, kr_units)
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
    offset range) and ``decode_dataset``."""
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


def _read_chunk_partition(partition: _ChunkScanPartition):
    """Executor-side scan of one packed chunk run: each chunk
    deserializes ONCE — column pruning happens inside the container, so
    excluded columns' buffers are never decompressed, and columns a
    chunk generation predates null-pad from the union schema — and its
    unit-slices yield as Arrow batches."""
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
                        yield _normalize_batch(b)
    finally:
        for fh in handles.values():
            fh.close()
