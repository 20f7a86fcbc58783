"""The dataset's files: payload storage, the manifest pointer, the
manifest and lineage metadata, and the one commit every write shares.

An output dir holds ``plan.json``, ``manifest_current`` (naming the
live manifest dir), that dir and ``lineage/`` (one parquet file each
per commit) and ``payload/`` (the tasks' append-only chunk files).

- every dataset file operation goes through ``pyarrow.fs``:
  ``hdfs://``/``s3://`` output dirs resolve to their filesystem, plain
  paths to ``LocalFileSystem`` (which requires a driver+executor shared
  mount).  Payload files are synced before their manifest rows are
  emitted, and every metadata file is synced before it is renamed into
  place;
- unit atomicity without a shuffle: :func:`commit_fragments` writes an
  encode's manifest rows as ONE parquet file (temp name + rename, so it
  appears whole or not at all), then the lineage file derived from the
  same table.  Readers semi-join manifest rows against lineage on
  (unit, run_id) — a run that crashes between payload writes /
  manifest file / lineage file leaves only dead payload files or orphan
  manifest rows, which are never read, and a resume re-encodes those
  units under a fresh commit id (GC of dead files is the usual Iceberg
  maintenance sweep);
- this module is the only reader of lineage and of the manifest, and
  the only writer of a manifest generation: lineage's ``status='ok'``
  rows are loaded once per dataset state (:func:`_ok_lineage`);
  :func:`_read_manifest` applies the one ``(unit, run_id)`` visibility
  rule — scans read its cached committed view, vacuum its rows flagged
  ``committed`` — and compaction, vacuum and the overwrite sink
  publish ``data_v<N>`` through :func:`publish_generation`.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
from pyarrow import fs as pafs
from pyspark.sql.pandas.types import from_arrow_schema

from ..plans.partitioning import EncodePlan


def _ddl_type(t: pa.DataType, ntz: bool = False) -> str:
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp_ntz" if ntz and t.tz is None else "timestamp"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"array<{_ddl_type(t.value_type, ntz)}>"
    raise TypeError(f"unsupported type {t}")


def _arrow_to_ddl(schema: pa.Schema, columns: list[str] | None) -> str:
    def q(name: str) -> str:
        # backtick-quote so dotted names parse as one identifier
        return "`" + name.replace("`", "``") + "`"

    def ddl(t: pa.DataType) -> str:
        # a bare "timestamp" follows spark.sql.timestampType: a stored
        # timestamp reads back as an instant in every session
        return _ddl_type(t).replace("timestamp", "timestamp_ltz")

    if columns:
        # requested order — must match deserialize_chunk's pruned order
        return ", ".join(f"{q(c)} {ddl(schema.field(c).type)}" for c in columns)
    return ", ".join(f"{q(f.name)} {ddl(f.type)}" for f in schema)


def _check_same_type(name: str, have: str, want: str) -> None:
    """A column two chunk generations share keeps one normalized DDL type
    (large/small string and timestamp-unit differences stay benign): a
    conflict is a loud error, never a silent cast."""
    if have != want:
        raise ValueError(
            f"schema conflict for column {name!r} across chunk "
            f"generations: {have} vs {want}"
        )


# manifest row layout: one row per unit-slice — a contiguous row range
# [row_off, row_off+n_rows) of ONE encode unit inside a serialized chunk.
# A chunk (payload bytes at [offset, offset+length) of a task's payload
# file) may hold several consecutive unit-slices, exactly like a parquet
# row group holding several partitions: the encode granularity (chunk,
# sized for codec throughput) is decoupled from the bookkeeping
# granularity (unit, sized for resume/lineage), so fragment size no
# longer shrinks with task parallelism.  Iceberg-style: tasks write data
# files straight to storage, the driver commits only the manifest.
FRAG_PA_SCHEMA = pa.schema(
    [
        ("unit", pa.int64()),
        ("first_key", pa.string()),
        ("n_rows", pa.int64()),
        ("row_off", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("wall_ms", pa.float64()),
        ("codecs", pa.string()),
        ("file", pa.string()),
        ("offset", pa.int64()),
        ("length", pa.int64()),
        ("stats", pa.string()),
        ("native", pa.bool_()),
    ]
)
# the same fields as the StructType mapInArrow takes (no DDL for the JVM to parse)
FRAG_SCHEMA = from_arrow_schema(FRAG_PA_SCHEMA)
MANIFEST_PA_SCHEMA = FRAG_PA_SCHEMA.append(pa.field("run_id", pa.string()))
# one row per (unit, commit): the visibility key every reader semi-joins
# manifest rows against, plus the unit's rolled-up fragment totals
LINEAGE_PA_SCHEMA = pa.schema(
    [
        ("unit", pa.int64()),
        ("n_rows", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("wall_ms", pa.float64()),
        ("n_fragments", pa.int64()),
        ("codecs", pa.string()),
        ("run_id", pa.string()),
        ("status", pa.string()),
        ("batch_tag", pa.string()),
        ("committed_at", pa.timestamp("us", "UTC")),
        ("native", pa.bool_()),
    ]
)


def _payload_fs(path: str):
    """(filesystem, path) for dataset file I/O.  ``hdfs://``/``s3://``-
    style URIs resolve to their ``pyarrow.fs`` filesystem, so payload
    bytes land in the same storage as the manifests; plain paths resolve
    to ``LocalFileSystem`` at their absolute path (relative paths keep
    the meaning the process's working directory gives them) and REQUIRE
    a filesystem shared by driver and executors at the same mount point
    (the usual Iceberg warehouse assumption)."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _sync(fs, path: str) -> None:
    """Force a closed, written file to stable storage.  On local storage
    its bytes sit in the page cache until an fsync (on Linux, fsync of
    any fd flushes the file itself); an object store's file is durable
    once its stream closes."""
    if isinstance(fs, pafs.LocalFileSystem):
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _atomic_write(dir_path: str, name: str, data, tmp_name: str) -> None:
    """Commit ``data`` as ``<dir_path>/<name>`` whole or not at all: write
    it under ``tmp_name`` in the same directory, sync it, then move it
    into place — a reader (concurrent, or after a crash) sees the old
    file or the complete new one, never a torn one."""
    fs, root = _payload_fs(dir_path)
    fs.create_dir(root, recursive=True)
    tmp = f"{root}/{tmp_name}"
    with fs.open_output_stream(tmp) as out:
        out.write(data)
    _sync(fs, tmp)
    fs.move(tmp, f"{root}/{name}")


def _remove_files(dir_path: str, names, ignore=FileNotFoundError) -> None:
    """Delete ``names`` under ``dir_path`` one by one; a file already gone
    (or any error in ``ignore``) is skipped."""
    fs, root = _payload_fs(dir_path)
    for n in names:
        try:
            fs.delete_file(f"{root}/{n}")
        except ignore:
            pass


def _list_dir(path: str, dirs: bool = False, hidden: bool = True) -> dict[str, pafs.FileInfo]:
    """The regular files under ``path`` (with ``dirs``, its
    subdirectories instead) by name, in name order; empty when ``path``
    does not exist.  ``hidden=False`` leaves out the ``.``/``_``-prefixed
    temp files and markers a metadata read skips."""
    fs, root = _payload_fs(path)
    want = pafs.FileType.Directory if dirs else pafs.FileType.File
    out = {}
    for i in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True)):
        name = i.base_name
        if (hidden or not name.startswith((".", "_"))) and i.type == want:
            out[name] = i
    return {n: out[n] for n in sorted(out)}


def _mtime(info: pafs.FileInfo) -> float:
    """A listed entry's mtime in seconds.  A missing mtime (some object
    stores) reads as +inf: the entry's age is unknowable, so it counts
    as infinitely YOUNG and every horizon protects it rather than sweeps
    it (0.0 would invert the safety)."""
    ns = info.mtime_ns
    return float("inf") if ns is None else ns / 1e9


class _TaskPayloadWriter:
    """Append-only payload file for one task attempt.  The file name is
    unique per attempt, so retried/speculative attempts never collide;
    files whose rows never reach the committed manifest are dead data
    (GC-able), exactly like uncommitted Iceberg data files.  ``close``
    syncs the file (see :func:`_sync`) BEFORE the task emits its
    manifest rows, so a committed manifest never points at payload bytes
    still in page cache."""

    def __init__(self, payload_dir: str):
        self._fs, self._dir = _payload_fs(payload_dir)
        self._fh = None
        self._path = ""
        self.name = ""
        self.offset = 0

    def write(self, payload: bytes) -> tuple[str, int, int]:
        if self._fh is None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
            self.name = f"frag-{attempt}-{uuid.uuid4().hex[:8]}.bin"
            self._path = f"{self._dir}/{self.name}"
            self._fs.create_dir(self._dir, recursive=True)
            self._fh = self._fs.open_output_stream(self._path)
        off = self.offset
        self._fh.write(payload)
        self.offset += len(payload)
        return self.name, off, len(payload)

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            _sync(self._fs, self._path)


def _open_payload(payload_dir: str, fname: str):
    """Seekable read handle for a payload file via the same fs resolution
    as the writer."""
    fs, d = _payload_fs(payload_dir)
    return fs.open_input_file(f"{d}/{fname}")


def _persist_plan(plan: EncodePlan, output_dir: str) -> None:
    # atomic: a reader (concurrent or resumed job) must never load a
    # truncated plan.json — unit identities would silently change
    _atomic_write(output_dir, "plan.json", plan.to_json().encode(), f"plan.json.tmp{os.getpid()}")


def _read_small_file(fs, path: str) -> str | None:
    """A small text file's content, or None when ``path`` is not a file."""
    if fs.get_file_info(path).type != pafs.FileType.File:
        return None
    with fs.open_input_file(path) as f:
        return f.read().decode()


def _load_plan(output_dir: str) -> EncodePlan | None:
    fs, root = _payload_fs(output_dir)
    text = _read_small_file(fs, f"{root}/plan.json")
    return None if text is None else EncodePlan.from_json(text)


_MANIFEST_PTR = "manifest_current"


def manifest_dir(output_dir: str) -> str:
    """Resolve the CURRENT manifest directory via the version pointer —
    the Iceberg version-hint pattern.  ``manifest_current`` names the
    live manifest dir (``data`` by default; vacuum's rewrite creates
    ``data_v<N>`` and swaps the pointer atomically), so a reader never
    observes a missing or half-swapped directory: it sees either the old
    manifest (still on disk until the next horizoned sweep) or the new
    one, both complete."""
    fs, root = _payload_fs(output_dir)
    name = (_read_small_file(fs, f"{root}/{_MANIFEST_PTR}") or "").strip()
    return os.path.join(output_dir, name or "data")


def set_manifest_dir(output_dir: str, name: str) -> None:
    """Atomically point ``manifest_current`` at ``name`` (the same
    temp-write + sync + move commit as the plan file)."""
    _atomic_write(output_dir, _MANIFEST_PTR, name.encode(), f"{_MANIFEST_PTR}.tmp{os.getpid()}")


def _generations(output_dir: str) -> list[tuple[str, int]]:
    """Every manifest generation dir on disk — ``data`` and each
    ``data_v<N>``, live, retired or left by a crashed rewrite — as
    ``(name, N)``, ``data`` counting as 0."""
    import re

    out = []
    for name in _list_dir(output_dir, dirs=True):
        m = re.fullmatch(r"data(?:_v(\d+))?", name)
        if m:
            out.append((name, int(m.group(1) or 0)))
    return out


def next_manifest_name(output_dir: str) -> str:
    """Fresh ``data_v<N>`` name above EVERY existing version dir — not
    current-pointer+1: a crashed or still-in-flight overwrite's
    unreferenced ``data_v<N>`` must never be reused (clobbering it would
    mix two writers' manifests)."""
    return f"data_v{max((n for _name, n in _generations(output_dir)), default=0) + 1}"


def _read_meta_table(
    path: str, schema: pa.Schema, columns: list[str] | None, names: tuple[str, ...], with_file: bool = False
) -> pa.Table | None:
    """The files ``names`` (a :func:`_meta_names` listing) of a parquet
    metadata directory as one Arrow table of ``schema`` — the engine's
    own :data:`MANIFEST_PA_SCHEMA` or :data:`LINEAGE_PA_SCHEMA` —
    ``columns`` only (None: all).  Files written by older engine
    versions hold a subset of those columns, which read as nulls there,
    so no column depends on which file lists first.  ``with_file``
    appends ``__file``, the name of each row's file.  None when there is
    no file or one vanished under the read (a swept retired
    generation)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    if not names:
        return None
    fs, root = _payload_fs(path)
    paths = [f"{root}/{n}" for n in names]
    dset = pads.FileSystemDataset.from_paths(paths, schema, pads.ParquetFileFormat(), fs)
    cols = list(columns or schema.names)
    try:
        tbl = dset.to_table(columns=cols + (["__filename"] if with_file else []))
    except OSError:
        return None
    if with_file:
        idx = pc.index_in(tbl["__filename"], value_set=pa.array(paths))
        tbl = tbl.set_column(len(cols), "__file", pa.array(names).take(idx))
    return tbl


def _write_parquet_file(dir_path: str, name: str, tbl: pa.Table) -> None:
    """One parquet file into a metadata directory, atomically (temp name
    prefixed ``.`` — invisible to Spark/pyarrow listings — then sync and
    rename; see :func:`_atomic_write`)."""
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf)
    _atomic_write(dir_path, name, buf.getvalue(), f".tmp-{name}")


def commit_fragments(
    frags: pa.Table, output_dir: str, data_dir: str, run_id: str, batch_tag: str = ""
) -> tuple[str, float]:
    """The one commit every encode path shares: write the fragments'
    manifest rows as ONE parquet file under ``data_dir``, then ONE
    lineage file — a row per unit, derived from the same table — that
    makes them visible to readers.  Both files use the temp-write +
    rename idiom, so a concurrent reader never sees a torn footer, and
    a crash between them leaves orphan manifest rows that no reader
    joins and a resume re-encodes.

    Every call commits under its own id, ``<run_id>-<8 hex>``, which
    tags its rows and names its files: a config reused across a resume
    keeps its ``run_id``, and the resumed call must neither replace an
    earlier commit's files nor make a crashed call's orphan rows
    visible through its own lineage.  Runs on the driver or in Spark's
    Python planning worker (no SparkSession needed).  Returns the
    commit id and the ``time.perf_counter()`` instant the manifest file
    landed, so callers can time the stage without the lineage
    bookkeeping."""
    from datetime import datetime, timezone

    commit_id = f"{run_id}-{uuid.uuid4().hex[:8]}"
    frags = frags.select(FRAG_PA_SCHEMA.names).cast(FRAG_PA_SCHEMA)
    man = pa.Table.from_arrays(
        [*frags.columns, pa.repeat(pa.scalar(commit_id), frags.num_rows)],
        schema=MANIFEST_PA_SCHEMA,
    )
    name = f"part-{commit_id}.parquet"
    _write_parquet_file(data_dir, name, man)
    t_manifest = time.perf_counter()

    # `native` (codec provenance — C fast path vs NumPy fallback per
    # worker) rolls up as min(): False if ANY fragment of the unit fell
    # back, so a heterogeneous cluster's mixed-path units are attributable
    per_unit = frags.group_by("unit", use_threads=False).aggregate(
        [
            ("n_rows", "sum"),
            ("bytes_in", "sum"),
            ("bytes_out", "sum"),
            ("wall_ms", "sum"),
            ([], "count_all"),
            ("codecs", "first"),
            ("native", "min"),
        ]
    )
    k = per_unit.num_rows
    # one stamp per commit: the streaming reader's cursor order
    now = pa.scalar(datetime.now(timezone.utc), LINEAGE_PA_SCHEMA.field("committed_at").type)
    lineage = pa.Table.from_arrays(
        [
            per_unit.column("unit"),
            per_unit.column("n_rows_sum"),
            per_unit.column("bytes_in_sum"),
            per_unit.column("bytes_out_sum"),
            per_unit.column("wall_ms_sum"),
            per_unit.column("count_all"),
            per_unit.column("codecs_first"),
            pa.repeat(pa.scalar(commit_id), k),
            pa.repeat(pa.scalar("ok"), k),
            pa.repeat(pa.scalar(batch_tag), k),
            pa.repeat(now, k),
            per_unit.column("native_min"),
        ],
        schema=LINEAGE_PA_SCHEMA,
    )
    _write_parquet_file(os.path.join(output_dir, "lineage"), name, lineage)
    return commit_id, t_manifest


# ---------------------------------------------------------------------------
# committed state (metadata only, cached per dataset state)
# ---------------------------------------------------------------------------


def _meta_names(path: str) -> tuple[str, ...]:
    """Names of the files a metadata-directory read sees."""
    return tuple(_list_dir(path, hidden=False))


def _remember(cache: dict, key: str, token, value) -> None:
    cache[key] = (token, value)
    if len(cache) > 64:
        cache.pop(next(iter(cache)))


_LINEAGE_CACHE: dict[str, tuple[tuple, pa.Table | None]] = {}


def _load_ok_lineage(
    output_dir: str, names: tuple[str, ...], columns: list[str]
) -> pa.Table | None:
    """The ``status='ok'`` rows of the lineage files ``names`` (a
    :func:`_meta_names` listing), read with pyarrow — no Spark job — and
    cached per dataset on those names; None when there is no lineage.
    The table holds at least ``columns`` (null where an older lineage
    file lacks ``batch_tag`` or ``committed_at``).  A miss reads the
    columns every earlier caller asked for as well, so callers that
    alternate share one table, and a scan that needs two columns never
    pays to read all twelve."""
    import pyarrow.compute as pc

    want = {"status", *columns}
    hit = _LINEAGE_CACHE.get(output_dir)
    if hit is not None:
        (hit_names, hit_cols), hit_lin = hit
        if hit_names == names and want <= hit_cols:
            return hit_lin
        want |= hit_cols
    lin = None
    if names:
        cols = [c for c in LINEAGE_PA_SCHEMA.names if c in want]
        lin = _read_meta_table(os.path.join(output_dir, "lineage"), LINEAGE_PA_SCHEMA, cols, names)
    if lin is not None:
        # one chunk per column, not one per file: the compute that
        # follows then costs per row, not per commit
        lin = lin.combine_chunks()
        lin = lin.filter(pc.equal(lin.column("status"), "ok"))
    _remember(_LINEAGE_CACHE, output_dir, (names, frozenset(want)), lin)
    return lin


def _ok_lineage(output_dir: str, columns: list[str]) -> pa.Table | None:
    """The dataset's committed lineage rows with at least ``columns`` —
    the one lineage read: an unchanged dataset costs one directory
    listing."""
    return _load_ok_lineage(output_dir, _meta_names(os.path.join(output_dir, "lineage")), columns)


def _manifest_token(output_dir: str) -> tuple[str, tuple[str, ...], tuple[str, ...]]:
    """The dataset-state key: the live manifest dir plus the names of its
    files and of the lineage files.  Every commit adds a freshly named
    file and every rewrite swaps the pointer, so the key changes exactly
    when the committed state does (a dir mtime need not).  The manifest
    is listed first: a run lands its manifest file before its lineage
    file, so no row reads as an orphan only because its lineage was
    listed before it."""
    mdir = manifest_dir(output_dir)
    return mdir, _meta_names(mdir), _meta_names(os.path.join(output_dir, "lineage"))


def _read_manifest(
    output_dir: str, columns: list[str] | None = None, token=None, orphans: bool = False
) -> pa.Table | None:
    """The committed rows of the live manifest generation, ``columns``
    only (None: all): the one manifest read and the one visibility rule
    — a row is committed when lineage holds a ``status='ok'`` row for
    its ``(unit, run_id)``.  With ``orphans``, every row instead, plus
    ``__file`` (the row's manifest file) and the rule as a ``committed``
    flag.  The join runs in Arrow, with no per-row Python objects
    (~10^7 rows at 100 TB).  Exactly the files ``token``
    (:func:`_manifest_token`, listed now when None) names are read.
    None when there is no manifest file or no lineage."""
    import pyarrow.compute as pc

    mdir, man_names, lin_names = token or _manifest_token(output_dir)
    man = _read_meta_table(mdir, MANIFEST_PA_SCHEMA, columns, man_names, orphans)
    ok = _load_ok_lineage(output_dir, lin_names, ["unit", "run_id"])
    if man is None or ok is None:
        return None
    # distinct: join keys must be unique
    ok = ok.select(["unit", "run_id"]).group_by(["unit", "run_id"]).aggregate([])
    if not orphans:
        return man.combine_chunks().join(ok, keys=["unit", "run_id"], join_type="left semi")
    ok = ok.append_column("committed", pa.repeat(pa.scalar(True), ok.num_rows))
    man = man.combine_chunks().join(ok, keys=["unit", "run_id"], join_type="left outer")
    return man.set_column(
        man.schema.get_field_index("committed"), "committed", pc.fill_null(man["committed"], False)
    )


_MANIFEST_CACHE: dict[str, tuple[tuple, pa.Table]] = {}
_MANIFEST_COLS = ["unit", "run_id", "file", "offset", "length", "row_off", "n_rows", "bytes_out", "stats", "codecs"]


def _committed_manifest(output_dir: str) -> pa.Table:
    """:func:`_read_manifest`'s committed rows, ``_MANIFEST_COLS`` only,
    cached per dataset state (:func:`_manifest_token`): a plan's
    ``schema()``, ``partitions()`` and the append-schema guard, and
    back-to-back ``decode_dataset`` calls, share one load."""
    token = _manifest_token(output_dir)
    hit = _MANIFEST_CACHE.get(output_dir)
    if hit is not None and hit[0] == token:
        return hit[1]
    out = _read_manifest(output_dir, _MANIFEST_COLS, token)
    if out is None:
        out = MANIFEST_PA_SCHEMA.empty_table().select(_MANIFEST_COLS)
    _remember(_MANIFEST_CACHE, output_dir, token, out)
    return out


def publish_generation(
    output_dir: str, run_id: str, frags: pa.Table | None = None, *,
    drop: pa.Table | None = None, name: str | None = None, batch_tag: str = "",
) -> None:
    """Publish a new manifest generation ``name`` (default
    :func:`next_manifest_name`), the one rewrite compaction, vacuum and
    the overwrite sink share.  First the survivors: with ``drop``
    (``(unit, run_id)`` pairs), every row of the live generation,
    re-read now, but those pairs' — so rows committed after the caller
    chose ``drop`` survive; without it nothing carries over.  A re-read
    that fails raises before anything is written: a generation without
    its survivors would drop every other unit.  Then ``frags`` and their
    lineage (:func:`commit_fragments`), and the pointer last: until it
    lands readers resolve the old generation, which the new lineage
    cannot touch, and a crash leaves only an unreferenced dir for
    vacuum's retired-manifest horizon."""
    name = name or next_manifest_name(output_dir)
    new_dir = os.path.join(output_dir, name)
    if drop is not None:
        live = _read_manifest(output_dir, orphans=True)
        if live is None:
            raise RuntimeError(f"could not re-read the live manifest of {output_dir}; nothing published")
        gone = drop.select(["unit", "run_id"]).group_by(["unit", "run_id"]).aggregate([])
        keep = live.join(gone, keys=["unit", "run_id"], join_type="left anti")
        # a generation is never an empty dir
        if keep.num_rows or frags is None:
            _write_parquet_file(
                new_dir,
                f"part-{run_id}-survivors.parquet",
                keep.drop_columns(["__file", "committed"]),
            )
    if frags is not None:
        commit_fragments(frags, output_dir, new_dir, run_id, batch_tag)
    set_manifest_dir(output_dir, name)


def completed_units(output_dir: str) -> np.ndarray:
    """Units whose lineage rows say 'ok' — skipped on resume.  Returned
    as a SORTED int64 numpy array (no per-row Python objects on the
    driver): ~8 B/unit resident (13 MB for the 1.6 M units of a 100 TB /
    64 MB dataset), broadcast as-is to the encode tasks for the
    sorted-searchsorted membership test (``pipeline._resume_keep_mask``)."""
    lin = _ok_lineage(output_dir, ["unit"])
    if lin is None:
        return np.array([], dtype=np.int64)
    return np.unique(lin.column("unit").to_numpy().astype(np.int64))


def completed_batch_tags(output_dir: str) -> set[str]:
    """Batch tags with committed lineage — a streaming sink checks this
    before encoding so micro-batch replays are no-ops (exactly-once at
    batch granularity)."""
    lin = _ok_lineage(output_dir, ["batch_tag"])
    if lin is None:
        return set()
    return {t for t in lin.column("batch_tag").unique().to_pylist() if t}


def _committed_run_order(output_dir: str) -> list[tuple[int, str]]:
    """Committed runs as a TOTAL ORDER ``(committed_at_µs, run_id)`` —
    the stream's cursor space.  ``committed_at`` is stamped once per
    commit (:func:`commit_fragments`, which every encode path and
    compaction share, stamps one ``datetime.now``), so a run
    collapses to one cursor point; ``run_id`` (uuid hex) breaks µs ties
    deterministically.  Runs predating the ``committed_at`` column sort
    at epoch 0 — an old dataset replays entirely in the first batch,
    ordered by run id, which is the only order its metadata can
    support."""
    import pyarrow.compute as pc

    lin = _ok_lineage(output_dir, ["run_id", "committed_at"])
    if lin is None or lin.num_rows == 0:
        return []
    ts = pc.fill_null(lin.column("committed_at").cast(pa.int64()), 0)
    runs = pa.table({"run_id": lin.column("run_id"), "committed_at": ts})
    runs = runs.group_by("run_id").aggregate([("committed_at", "max")])
    out = sorted(
        zip(
            runs.column("committed_at_max").to_pylist(),
            runs.column("run_id").to_pylist(),
        )
    )
    return [(int(t), r) for t, r in out]


def _probe_chunk_schema(output_dir: str, man: pa.Table) -> pa.Schema:
    """Union-by-name schema over committed chunks (orphan-safe — rows
    came through the lineage semi-join): one META-ONLY probe (container
    header + JSON, no payload decoded) per distinct column-name set,
    taken from the manifest's own codecs maps (distinct codecs STRINGS
    are deduped before any JSON parse, so planning cost tracks codec
    diversity, not row count).  This is the engine's schema-evolution
    resolution, Iceberg-style: appends may ADD columns (older chunks
    null-pad on decode) or omit columns (newer rows null-pad), but a
    column present in two chunk generations must agree on type
    (:func:`_check_same_type`).  The base is the widest probe (stable
    tie-break on the name tuple); remaining fields append in that
    deterministic iteration order, so the union schema is identical
    across runs and partitionings."""
    from .container import read_chunk_schema

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
    schemas = []
    for fname, off in sorted(by_ns.values()):
        fh = _open_payload(payload_dir, fname)
        try:
            fh.seek(off)
            schemas.append(read_chunk_schema(fh))
        finally:
            fh.close()
    schemas.sort(key=lambda s: (-len(s.names), tuple(s.names)))
    fields = list(schemas[0])
    seen = {f.name: _ddl_type(f.type) for f in fields}
    for s in schemas[1:]:
        for f in s:
            d = _ddl_type(f.type)
            if f.name in seen:
                _check_same_type(f.name, seen[f.name], d)
            else:
                fields.append(f)
                seen[f.name] = d
    return pa.schema(fields)


def _check_append_schema(output_dir: str, schema: pa.Schema) -> None:
    """Additive schema evolution, type-stable: an append may ADD columns
    (older rows null-pad on decode) or OMIT columns (new rows null-pad),
    but a column shared with any existing chunk generation must keep its
    type — a silent type flip would poison the union probe for every
    future reader, so it fails here, before anything is written.  Naive
    (``TIMESTAMP_NTZ``) and zone-aware timestamps count as two types.
    Every append runs it: both ``upe_encoded`` writers and both encode
    jobs, over the Arrow schema of the rows they will write."""
    man = _committed_manifest(output_dir)
    if man.num_rows == 0:
        return
    union = _probe_chunk_schema(output_dir, man)
    for f in schema:
        if f.name not in union.names:
            continue
        have = _ddl_type(union.field(f.name).type, ntz=True)
        got = _ddl_type(f.type, ntz=True)
        if got != have:
            raise ValueError(
                f"type conflict appending column {f.name!r}: dataset has "
                f"{have}, append writes {got} (schema evolution is additive "
                "only — cast upstream or use a new column name)"
            )
