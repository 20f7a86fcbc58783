"""The distributed encode job: plan → mapInArrow encode → Parquet sink +
lineage → (optionally) decode read-back.

Engine analog of the reference's batch-export orchestration
(``/root/reference/examples/advanced_integration_example.py:80-114`` — its
per-query loop with error isolation and a summary record) re-designed for
Spark: the unit of work is a byte-balanced *encode unit* (a url-range,
possibly hash-salted — :mod:`..plans.partitioning`), with per-unit lineage
rows enabling checkpointed resume (north rule).

Scale notes (100 TB / 1000-executor thinking):
- the job is fully NARROW and Iceberg-writer-shaped: each map task
  bucket-sorts its input rows by (unit, key), serializes runs of
  consecutive unit-slices into CHUNKS of ~``chunk_rows`` rows (the codec
  granularity — throughput and ratio degrade sharply on tiny chunks, so
  chunk size must not depend on how many units a task touches or on the
  cluster's parallelism), appends the chunks to its own payload file in
  storage, and emits only tiny MANIFEST rows to Spark — one per
  unit-slice, carrying the chunk location plus the slice's row range,
  exactly how one parquet row group serves several partitions.  Encoded
  bytes never cross the JVM<->Python boundary and are never shuffled —
  measured on this sandbox's fault-expensive kernel, JVM-side handling
  of payload bytes is precisely what destroys multi-core scaling, and at
  nominal scale a consolidate-per-unit exchange is pure network cost on
  already-compressed bytes;
- every dataset file operation goes through ``pyarrow.fs``:
  ``hdfs://``/``s3://`` output dirs resolve to their filesystem, plain
  paths to ``LocalFileSystem`` (which requires a driver+executor shared
  mount).  Payload files are synced before their manifest rows are
  emitted, and every metadata file is synced before it is renamed into
  place;
- unit atomicity without a shuffle: the stage's one Spark action brings
  the manifest rows to the driver as Arrow, and :func:`commit_fragments`
  writes them as ONE parquet file (temp name + rename, so it appears
  whole or not at all), then the lineage file derived from the same
  table.  Decode semi-joins fragments against lineage on
  (unit, run_id) — a run that crashes between payload writes /
  manifest file / lineage file leaves only dead payload files or orphan
  manifest rows, which are never read, and a resume re-encodes those
  units under a fresh commit id (GC of dead files is the usual Iceberg
  maintenance sweep);
- payload files hold our codec output verbatim — sizes are honest and
  decode never pays a double-decompress;
- decode prunes to requested columns before deserializing payloads.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyarrow import fs as pafs

from ..plans.partitioning import EncodePlan, assign_units_arrow, plan_encode
from .container import serialize_chunk


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

    if columns:
        # requested order — must match deserialize_chunk's pruned order
        return ", ".join(f"{q(c)} {_ddl_type(schema.field(c).type)}" for c in columns)
    return ", ".join(f"{q(f.name)} {_ddl_type(f.type)}" for f in schema)


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
FRAG_SCHEMA = _arrow_to_ddl(FRAG_PA_SCHEMA, None)  # the same fields as mapInArrow DDL
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

_STATS_STR_MAX = 64  # string bound length cap (see _chunk_stats)
_STATS_DV_MAX = 16  # distinct-value set cap (see _chunk_stats)
_STATS_DV_PROBE = 2048  # rows probed before committing to a full unique()

_TS_UNIT_TO_US = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}  # ns divides


def _ts_scalar_us(scalar, unit: str) -> int | None:
    """Arrow timestamp scalar → exact epoch-µs int (no float round-trip);
    None for null."""
    import pyarrow.compute as pc

    raw = pc.cast(scalar, pa.int64()).as_py()
    if raw is None:
        return None
    mult = _TS_UNIT_TO_US[unit]
    return raw // 1000 if mult is None else raw * mult


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


def _chunk_stats(tbl: pa.Table) -> str:
    """Per-chunk zone map: JSON ``{col: [min, max]}`` over int/float/
    string/timestamp/date/decimal columns — the engine's analog of
    parquet row-group statistics, consumed by :func:`decode_dataset`'s
    ``filters`` pruning.  A ``null`` bound means unbounded on that side
    (never wrongly prunes):
    - long string minima are TRUNCATED (a prefix is still a valid lower
      bound); long string maxima are dropped (truncating a max would
      understate it and prune chunks that match — the parquet pitfall);
    - float columns containing NaN record no bounds (NaN breaks total
      order);
    - timestamps record exact epoch-µs ints, dates epoch-days ints,
      decimals exact decimal STRINGS (an unscaled int can overflow int64
      at precision 38; the pruning side re-types them from the probed
      schema) — so ``warc_ts``-style time-range scans prune, the
      canonical Common-Crawl filter column (SURVEY §1.2);
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
    the same domain as the bounds (µs/days ints, decimal strings), and a
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
        is_ts = pa.types.is_timestamp(t)
        is_date = pa.types.is_date(t)
        is_dec = pa.types.is_decimal(t)
        if not (
            pa.types.is_integer(t) or pa.types.is_floating(t) or is_str
            or is_ts or is_date or is_dec
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
        if is_ts:
            mn = _ts_scalar_us(mm["min"], t.unit)
            mx = _ts_scalar_us(mm["max"], t.unit)
        elif is_date:
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            mn = None if mn is None else date_value_days(mn)
            mx = None if mx is None else date_value_days(mx)
        elif is_dec:
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            mn = None if mn is None else str(mn)
            mx = None if mx is None else str(mx)
        else:
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
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
    if pa.types.is_timestamp(t):
        mult = _TS_UNIT_TO_US[t.unit]
        raw = u.cast(pa.int64()).to_pylist()
        vals = [r // 1000 if mult is None else r * mult for r in raw]
    elif pa.types.is_date(t):
        vals = [date_value_days(v) for v in u.to_pylist()]
    elif pa.types.is_decimal(t):
        vals = [str(v) for v in u.to_pylist()]
    else:
        vals = u.to_pylist()
        if vals and isinstance(vals[0], str) and any(len(v) > _STATS_STR_MAX for v in vals):
            return None
    return sorted(vals)


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


def split_columns(spec: str) -> tuple:
    """``"lang, n_chars"`` → ``("lang", "n_chars")``: a comma-separated
    column list from an option or environment variable, whitespace
    stripped and empty entries dropped."""
    return tuple(c.strip() for c in spec.split(",") if c.strip())


@dataclass
class EncodeJobConfig:
    output_dir: str
    key_col: str = "url"
    size_cols: tuple = ("text", "html")
    target_unit_bytes: int = 64 << 20
    sample_rows: int = 100_000
    # prefix of the id each commit records in manifest and lineage (a
    # per-call suffix is appended; see commit_fragments)
    run_id: str = ""
    # serialize-flush threshold: a task groups consecutive unit-slices
    # into one chunk until it holds this many rows.  Codec throughput and
    # ratio degrade sharply on tiny chunks (measured ~5x between 600-row
    # and 10k-row chunks), so chunk size must NOT depend on how many
    # units a task happens to touch.
    chunk_rows: int = 32768
    # per-task buffered-bytes cap: the encode stream flushes a grouped
    # chunk wave whenever buffered input crosses this, so task memory is
    # independent of the input split size (a 100 TB job can keep
    # map_tasks small without risking executor OOM).  256 MB default =
    # several full-size chunks per wave, no measurable ratio cost.
    max_buffer_bytes: int = 256 << 20
    # explicit map-task count for the parquet path (None = ~4 waves of
    # defaultParallelism).  Benchmarks pin this so every parallelism
    # level runs IDENTICAL per-task work — the way a real cluster scales.
    map_tasks: int | None = None
    # resume semantics: True (batch default) skips units already ok in
    # lineage; False (streaming append) encodes every input row, adding
    # fragments to existing units under this run's id.
    skip_completed: bool = True
    # idempotency tag recorded in lineage (streaming micro-batches use
    # "batch_<id>"): a replayed foreachBatch attempt is skipped when its
    # tag is already committed, and a torn attempt's fragments carry an
    # uncommitted run_id, so decode never sees duplicates.
    batch_tag: str = ""
    # "parquet": the input argument is a directory; work items come from
    # driver-side footer scans.  "iceberg": the input argument is a
    # catalog table name; work items come from the table's own manifests
    # (``<table>.files`` metadata table) as whole-file items whose row
    # groups the tasks expand themselves.
    input_format: str = "parquet"
    # write-time clustering (the Iceberg SortOrder analog): the DataFrame
    # encode path range-repartitions + sorts the input by these columns
    # before the map-side encode, and every unit-slice keeps the cluster
    # order as its in-chunk row order.  Chunks then cover NARROW cluster-
    # column ranges, so zone maps prune on a second dimension beyond the
    # key (e.g. key_col=url, cluster_by=("warc_ts",) makes time-range
    # scans skip payload), and runs on the cluster columns compress
    # further (RLE/FOR see whole-chunk runs instead of interleaved
    # values).  Costs ONE extra exchange up front — the standard price of
    # a sorted write, paid once at ingest and repaid on every filtered
    # read.  () = off (arrival order, no extra shuffle).  The direct-
    # parquet path inherits the files' existing order instead (sorting
    # there would mean shuffling raw rows through Python); cluster
    # already-written inputs via the DataFrame path.
    cluster_by: tuple = ()

    def __post_init__(self):
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]

    @classmethod
    def from_environment(cls) -> "EncodeJobConfig":
        """Build a config from ``UPES_ENCODE_*`` environment variables —
        the deployment-convenience path the reference provides for its DB
        config (``/root/reference/config/sqlserver_config.py:53-106``),
        including the same required-variable error contract."""
        env = os.environ
        missing = [v for v in ("UPES_ENCODE_OUTPUT_DIR",) if not env.get(v)]
        if missing:
            raise ValueError(
                "Missing required environment variables: " + ", ".join(missing)
            )
        size_cols = env.get("UPES_ENCODE_SIZE_COLS", "text,html")
        map_tasks = env.get("UPES_ENCODE_MAP_TASKS")
        return cls(
            output_dir=env["UPES_ENCODE_OUTPUT_DIR"],
            key_col=env.get("UPES_ENCODE_KEY_COL", "url"),
            size_cols=split_columns(size_cols),
            target_unit_bytes=int(env.get("UPES_ENCODE_TARGET_UNIT_BYTES", 64 << 20)),
            sample_rows=int(env.get("UPES_ENCODE_SAMPLE_ROWS", 100_000)),
            run_id=env.get("UPES_ENCODE_RUN_ID", ""),
            chunk_rows=int(env.get("UPES_ENCODE_CHUNK_ROWS", 32768)),
            max_buffer_bytes=int(env.get("UPES_ENCODE_MAX_BUFFER_BYTES", 256 << 20)),
            map_tasks=int(map_tasks) if map_tasks else None,
            input_format=env.get("UPES_ENCODE_INPUT_FORMAT", "parquet"),
            cluster_by=split_columns(env.get("UPES_ENCODE_CLUSTER_BY", "")),
        )


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


def next_manifest_name(output_dir: str) -> str:
    """Fresh ``data_v<N>`` name above EVERY existing version dir — not
    current-pointer+1: a crashed or still-in-flight overwrite's
    unreferenced ``data_v<N>`` must never be reused (clobbering it would
    mix two writers' manifests).  Shared by the DataSource overwrite
    sink, compaction, and vacuum's manifest rewrite so concurrent
    version allocation is consistent."""
    fs, root = _payload_fs(output_dir)
    try:
        names = [i.base_name for i in fs.get_file_info(pafs.FileSelector(root))]
    except OSError:
        names = []
    top = 0
    for n in names:
        if n.startswith("data_v"):
            try:
                top = max(top, int(n[len("data_v"):]))
            except ValueError:
                pass
    return f"data_v{top + 1}"


def _read_meta_table(path: str, columns: list[str] | None) -> pa.Table | None:
    """A parquet metadata directory (manifest or lineage) as one Arrow
    table (``_SUCCESS`` markers and ``.``-prefixed temp files ignored by
    pyarrow.dataset's default ``ignore_prefixes``); ``columns=None``
    reads every column.  None when the directory doesn't exist yet."""
    import pyarrow.dataset as pads

    try:
        dset = pads.dataset(path, format="parquet")
    except (FileNotFoundError, OSError):
        return None
    if columns is None:
        return dset.to_table()
    return dset.to_table(columns=[c for c in columns if c in dset.schema.names])


def _ok_lineage(output_dir: str, columns: list[str]) -> pa.Table | None:
    """The ``status='ok'`` lineage rows (``columns`` only), read with
    pyarrow — no Spark job; None when there is no lineage or it lacks
    any of ``columns``."""
    import pyarrow.compute as pc

    lin = _read_meta_table(os.path.join(output_dir, "lineage"), [*columns, "status"])
    if lin is None or not set(columns) <= set(lin.schema.names):
        return None
    return lin.filter(pc.equal(lin.column("status"), "ok")).select(columns)


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


def load_or_build_plan(df, cfg: EncodeJobConfig) -> EncodePlan:
    """Reuse the persisted plan (stable unit identity across resumes) or
    build one from a deterministic sample."""
    plan = _load_plan(cfg.output_dir)
    if plan is not None:
        return plan
    plan = plan_encode(
        df,
        key_col=cfg.key_col,
        size_cols=[c for c in cfg.size_cols if c in df.columns],
        target_bytes=cfg.target_unit_bytes,
        sample_rows=cfg.sample_rows,
    )
    _persist_plan(plan, cfg.output_dir)
    return plan


def _parquet_work_items(input_dir: str) -> tuple[list[tuple[str, int]], int]:
    """(file, row-group) work-list + total row count from the footers.  At
    nominal (Iceberg) scale both come from the table's manifests instead
    of a directory listing."""
    import pyarrow.parquet as pq

    items: list[tuple[str, int]] = []
    total_rows = 0
    for fn in sorted(os.listdir(input_dir)):
        if not fn.endswith(".parquet"):
            continue
        full = os.path.join(input_dir, fn)
        md = pq.ParquetFile(full).metadata
        total_rows += md.num_rows
        items.extend((full, rg) for rg in range(md.num_row_groups))
    return items, total_rows


def _iceberg_work_items(spark, table: str) -> tuple[list[tuple[str, int]], int]:
    """Work-list + row count from an Iceberg table's own manifests via its
    ``<table>.files`` metadata table — no directory listing and no
    driver-side footer scan.  Each item is ``(file_path, -1)``; the map
    task expands ``-1`` to the file's row groups itself (footers are read
    where the data is — the Iceberg split-planning shape).

    Copy-on-write tables only: ``content`` classifies each manifest entry
    (0 = data, 1 = position deletes, 2 = equality deletes), and a v2
    merge-on-read snapshot stores row-level deletes as delete FILES that a
    plain file scan cannot apply — encoding such a table would silently
    resurrect deleted rows, so any delete file fails the job fast instead.

    Requires an Iceberg catalog configured on the session
    (``spark.sql.catalog.*``); the sandbox has none, so this branch is
    exercised by a mock of the metadata-table query
    (``tests/test_pipeline.py``), the same way the JDBC reader is tested
    without a database."""
    files = spark.sql(
        f"SELECT file_path, record_count, content FROM {table}.files"
    ).collect()
    n_deletes = sum(1 for r in files if int(r.content or 0) != 0)
    if n_deletes:
        raise ValueError(
            f"{table} has {n_deletes} delete file(s) in its current snapshot "
            "(merge-on-read row-level deletes); the encode scan reads data "
            "files directly and cannot apply them. Rewrite the table "
            "copy-on-write first (e.g. CALL rewrite_data_files / "
            "rewrite_position_delete_files) and re-run."
        )
    data = [r for r in files if int(r.content or 0) == 0]
    items = [(r.file_path, -1) for r in data]
    total_rows = int(sum(r.record_count for r in data))
    return items, total_rows


def _parquet_file(path: str):
    """pyarrow ParquetFile for a plain path or a filesystem URI (Iceberg
    manifests store fully-qualified URIs)."""
    import pyarrow.parquet as pq

    fs, p = _payload_fs(path)
    return pq.ParquetFile(fs.open_input_file(p))


def _expand_row_groups(pf, rg: int):
    """A work item's row-group field: an explicit row group, or -1 for
    'every row group in the file' (Iceberg-manifest items)."""
    return range(pf.metadata.num_row_groups) if rg < 0 else (rg,)


def load_or_build_plan_parquet(
    spark, items: list[tuple[str, int]], total_rows: int, cfg: EncodeJobConfig
) -> EncodePlan:
    """Parquet-path planner: sample (key, row-size) from a deterministic
    subset of row groups, read IN PARALLEL by pyarrow inside Python
    workers — the full input is never scanned and no raw rows cross the
    JVM boundary (a DataFrame ``.sample()`` would scan everything)."""
    plan = _load_plan(cfg.output_dir)
    if plan is not None:
        return plan

    from ..plans.partitioning import plan_from_sample

    key_col = cfg.key_col
    size_cols = list(cfg.size_cols)
    pick = items[:: max(1, len(items) // 16)][:16]
    per_item = max(64, cfg.sample_rows // len(pick))
    # the same task shape as the encode stage: broadcast the picked items
    # and drive one task per item from a JVM-native range source — no
    # createDataFrame + repartition shuffle in front of the sample
    bpick = spark.sparkContext.broadcast(pick)

    def sample_rg(iterator):
        import pyarrow.compute as pc

        picked = bpick.value
        for batch in iterator:
            for i in batch.column("id").to_pylist():
                path, rg = picked[i]
                tbl = _parquet_file(path).read_row_group(
                    max(rg, 0), columns=[key_col] + size_cols, use_threads=False
                )
                stride = max(1, tbl.num_rows // per_item)
                tbl = tbl.take(pa.array(range(0, tbl.num_rows, stride)))
                sz = None
                for c in size_cols:
                    ln = pc.coalesce(pc.binary_length(tbl.column(c)), pa.scalar(0)).cast("int64")
                    sz = ln if sz is None else pc.add(sz, ln)
                k = tbl.column(key_col).cast(pa.string()).combine_chunks()
                if isinstance(sz, pa.ChunkedArray):
                    sz = sz.combine_chunks()
                yield pa.RecordBatch.from_pydict({"k": k, "sz": sz})

    sample = (
        spark.range(len(pick), numPartitions=len(pick))
        .mapInArrow(sample_rg, "k string, sz long")
        .toPandas()
    )
    plan = plan_from_sample(sample, total_rows, key_col, cfg.target_unit_bytes)
    _persist_plan(plan, cfg.output_dir)
    return plan


def completed_units(spark, output_dir: str) -> np.ndarray:
    """Units whose lineage rows say 'ok' — skipped on resume.  Returned
    as a SORTED int64 numpy array read with pyarrow (no Spark job, no
    per-row Python objects on the driver): ~8 B/unit resident (13 MB for
    the 1.6 M units of a 100 TB / 64 MB dataset), broadcast as-is to the
    encode tasks for the sorted-searchsorted membership test
    (:func:`_resume_keep_mask`).  ``spark`` is unused; kept for callers."""
    lin = _ok_lineage(output_dir, ["unit"])
    if lin is None:
        return np.array([], dtype=np.int64)
    return np.unique(lin.column("unit").to_numpy().astype(np.int64))


def completed_batch_tags(spark, output_dir: str) -> set[str]:
    """Batch tags with committed lineage — a streaming sink checks this
    before encoding so micro-batch replays are no-ops (exactly-once at
    batch granularity).  Read with pyarrow; ``spark`` is unused."""
    lin = _ok_lineage(output_dir, ["batch_tag"])
    if lin is None:
        return set()
    return {t for t in lin.column("batch_tag").unique().to_pylist() if t}


def _resume_keep_mask(units: np.ndarray, done_local: np.ndarray) -> np.ndarray:
    """True where ``units[i]`` is NOT in the (sorted) completed-unit
    list.  Sorted searchsorted membership is O(n log m) with no hash
    table rebuilt per batch, unlike ``np.isin`` — at 100 TB / 64 MB
    units the done list is ~1.6 M ids and this runs once per batch."""
    if not done_local.size:
        return np.ones(len(units), dtype=bool)
    pos = np.minimum(np.searchsorted(done_local, units), done_local.size - 1)
    return done_local[pos] != units


def _cluster_order(units: np.ndarray, batch: pa.RecordBatch, cluster_cols: tuple) -> np.ndarray:
    """Row order for cluster mode: unit-major, then the cluster columns.
    The batch arrives globally sorted by the cluster columns (encode_job's
    range-repartition + sort pre-pass), so a stable per-unit re-sort on
    the same keys preserves that order inside every unit slice, and
    concatenated slices of one unit across batches stay sorted.  pyarrow
    sort_indices handles every zone-map type (timestamps, decimals,
    strings) and puts nulls last, which RLE then picks up as one run.
    The sort table's columns are named by position, so no user column
    name (``__unit__`` included) can replace the unit key."""
    cols = [pa.array(units)] + [batch.column(c) for c in cluster_cols]
    names = [str(i) for i in range(len(cols))]
    return pa.compute.sort_indices(
        pa.Table.from_arrays(cols, names=names),
        sort_keys=[(n, "ascending") for n in names],
    ).to_numpy()


def _encode_stream(
    iterator,
    plan_local: EncodePlan,
    done_local: np.ndarray,
    key_col: str,
    payload_dir: str,
    chunk_rows: int = 32768,
    max_buffer_bytes: int = 256 << 20,
    stats: dict | None = None,
    cluster_cols: tuple = (),
    sort_units_at_flush: bool = False,
):
    """Core map-side combine: consume Arrow record batches, bucket rows
    into encode units, serialize runs of consecutive unit-slices as
    chunks of ~``chunk_rows`` rows into the task's payload file, and emit
    one manifest row per unit-slice (chunk location + row range).  Shared
    by the DataFrame input path and the direct-parquet input path.

    Task memory is BOUNDED by ``max_buffer_bytes``: whenever the buffered
    (referenced) bytes cross the cap, the whole buffer is flushed as a
    grouped wave — unit-sorted, consecutive unit-slices packed into
    ~``chunk_rows``-row chunks, identical to the end-of-input flush — and
    the buffer is cleared so the input batches it pinned are released.
    Flushing the whole wave (rather than one hot unit) matters because
    unit buffers hold zero-copy SLICES of input batches: releasing parent
    memory requires every slice of a parent to go, and a 256 MB wave
    still yields full-size chunks, so ratio/throughput are unaffected.
    Units touched by several waves simply get several manifest rows
    (fragments), which decode and resume already handle.  Resident set
    per task ≈ cap + one input batch + serialization temporaries,
    independent of the task's input split size — the 100 TB sizing rule
    is therefore just ``max_buffer_bytes``, not ``map_tasks``.

    ``stats`` (tests) receives ``peak_buffer_bytes`` and ``flush_waves``."""
    from ..plans.partitioning import _fixed_width

    from ..codecs._native import get_native

    buf: dict[int, list] = {}
    buf_bytes = 0
    peak_bytes = 0
    waves = 0
    fsst_tables: dict | None = None
    writer = _TaskPayloadWriter(payload_dir)
    # codec provenance: True when this worker process compiled/loaded the
    # C fast path, False on the pure-NumPy fallback (no compiler on the
    # host).  Recorded per fragment → aggregated into lineage, so a perf
    # delta on a heterogeneous cluster is attributable from metadata.
    native_flag = get_native() is not None
    rows: dict[str, list] = {k: [] for k in FRAG_PA_SCHEMA.names}

    def train_fsst():
        # train FSST tables ONCE per task, at the first flush, from the
        # largest buffered unit's string/binary columns (≥64 KiB sample by
        # construction); later fragments reuse them, and the per-fragment
        # trial still falls back to plain if a table fits poorly
        nonlocal fsst_tables
        if fsst_tables is not None:
            return
        fsst_tables = {}
        if not buf:
            return
        biggest = max(buf.values(), key=lambda bs: sum(b.nbytes for b in bs))
        probe = pa.Table.from_batches(biggest)
        for field in probe.schema:
            if pa.types.is_string(field.type) or pa.types.is_binary(field.type) or \
               pa.types.is_large_string(field.type) or pa.types.is_large_binary(field.type):
                col = probe.column(field.name).combine_chunks()
                bufs_ = col.buffers()
                if bufs_[2] is not None and bufs_[2].size >= 64:
                    sample = bufs_[2].to_pybytes()[:65536]
                    from ..codecs.fsst import fsst_train

                    fsst_tables[field.name] = fsst_train(sample)

    def flush_buffer():
        # grouped flush of the whole buffer: unit order, consecutive
        # unit-slices packed into ~chunk_rows-row chunks
        nonlocal buf, buf_bytes, waves
        if not buf:
            return
        train_fsst()
        waves += 1
        pending: list[tuple[int, list]] = []  # (unit, batches) in unit order
        pending_rows = 0

        def flush_chunk():
            nonlocal pending, pending_rows
            if not pending:
                return
            t0 = time.perf_counter()
            tbl = pa.Table.from_batches([b for _, bs in pending for b in bs])
            payload, report = serialize_chunk(tbl, fsst_tables)
            fname, off, length = writer.write(payload)
            stats_json = _chunk_stats(tbl)
            wall = (time.perf_counter() - t0) * 1000
            codecs = json.dumps({c["name"]: c["codec"] for c in report["columns"]})
            # prorate chunk-level byte/wall totals across its unit-slices
            # by row share; remainders land on the last slice so per-unit
            # sums in lineage stay exact
            row_off = 0
            rem_in, rem_out, rem_wall = report["bytes_in"], length, wall
            for i, (unit, bs) in enumerate(pending):
                n_u = sum(b.num_rows for b in bs)
                if i == len(pending) - 1:
                    b_in, b_out, w_u = rem_in, rem_out, rem_wall
                else:
                    frac = n_u / tbl.num_rows
                    b_in = int(report["bytes_in"] * frac)
                    b_out = int(length * frac)
                    w_u = wall * frac
                    rem_in -= b_in
                    rem_out -= b_out
                    rem_wall -= w_u
                rows["unit"].append(unit)
                rows["first_key"].append(bs[0].column(key_col)[0].as_py() if n_u else "")
                rows["n_rows"].append(n_u)
                rows["row_off"].append(row_off)
                rows["bytes_in"].append(b_in)
                rows["bytes_out"].append(b_out)
                rows["wall_ms"].append(w_u)
                rows["codecs"].append(codecs)
                rows["file"].append(fname)
                rows["offset"].append(off)
                rows["length"].append(length)
                rows["stats"].append(stats_json)
                rows["native"].append(native_flag)
                row_off += n_u
            pending = []
            pending_rows = 0

        for unit in sorted(buf):
            bs = buf[unit]
            if cluster_cols:
                # cluster mode: a unit whose wave-buffer exceeds
                # chunk_rows must SPLIT into ~chunk_rows chunks — the
                # plain packer only cuts between units, which would put
                # the whole sorted unit in one chunk and erase the
                # clustering's zone-map value.  Fragments per unit are
                # already the normal decode/resume shape.
                utbl = pa.Table.from_batches(bs)
                if sort_units_at_flush:
                    # retro-clustering (compaction): no shuffle
                    # pre-sorted this stream, so order the whole
                    # buffered unit here — transient cost is one
                    # combined table per unit within the already-
                    # bounded wave (the sort itself is Arrow C++)
                    utbl = utbl.sort_by([(c, "ascending") for c in cluster_cols])
                for s in range(0, utbl.num_rows, chunk_rows):
                    sl = utbl.slice(s, min(chunk_rows, utbl.num_rows - s))
                    pending.append((unit, sl.to_batches()))
                    pending_rows += sl.num_rows
                    if pending_rows >= chunk_rows:
                        flush_chunk()
                continue
            pending.append((unit, bs))
            pending_rows += sum(b.num_rows for b in bs)
            if pending_rows >= chunk_rows:
                flush_chunk()
        flush_chunk()
        buf = {}
        buf_bytes = 0

    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            units = assign_units_arrow(batch.column(key_col), plan_local)
            keys = _fixed_width(batch.column(key_col))
            if done_local.size:
                keep = _resume_keep_mask(units, done_local)
                if not keep.all():
                    idx = np.flatnonzero(keep)
                    batch = batch.take(pa.array(idx))
                    units = units[keep]
                    keys = keys[keep]
            if len(units) == 0:
                continue
            if cluster_cols:
                order = _cluster_order(units, batch, cluster_cols)
            else:
                order = np.lexsort((keys, units))
            batch = batch.take(pa.array(order))
            units = units[order]
            change = np.flatnonzero(units[1:] != units[:-1])
            starts = np.concatenate(([0], change + 1))
            ends = np.concatenate((change + 1, [len(units)]))
            for s, e in zip(starts, ends):
                sl = batch.slice(s, e - s)
                buf.setdefault(int(units[s]), []).append(sl)
            buf_bytes += batch.nbytes
            peak_bytes = max(peak_bytes, buf_bytes)
            if buf_bytes >= max_buffer_bytes:
                flush_buffer()
        flush_buffer()
    finally:
        writer.close()
    if stats is not None:
        stats["peak_buffer_bytes"] = peak_bytes
        stats["flush_waves"] = waves
    if rows["unit"]:
        yield pa.RecordBatch.from_pydict(rows, schema=FRAG_PA_SCHEMA)


def encode_job(spark, df, cfg: EncodeJobConfig) -> dict:
    """Run (or resume) the encode job over an arbitrary DataFrame.

    Map-side combine: every input partition encodes its rows into
    per-unit *fragments* before the shuffle, so the exchange carries
    compressed bytes (~5x less traffic than shuffling raw rows — the
    difference between shuffling 100 TB and 20 TB at nominal scale).  The
    reduce side only concatenates fragments into the final per-unit
    container; nothing is re-encoded.  Fragment boundaries depend on input
    splits, so payload bytes may differ between runs at different
    parallelism — decoded data is identical (the north-rule invariant),
    and resume stays unit-atomic via lineage.

    For parquet-backed inputs prefer :func:`encode_parquet_job`: this
    DataFrame path pays a JVM->Python Arrow transfer of every raw row,
    which measurably anti-scales on fault-expensive kernels."""
    bad = [c for c in df.columns if "." in c or "`" in c]
    if bad:
        # Spark's mapInArrow resolves each input column by name and
        # parses dots as struct paths — fail loudly instead of
        # surfacing its cryptic resolution error.  The upe_encoded sink
        # (pure Arrow, no name resolution) handles such columns fine.
        raise ValueError(
            f"column names with '.' or '`' are unsupported by the DataFrame "
            f"encode path (Spark mapInArrow limitation): {bad}; rename them "
            "or write via df.write.format('upe_encoded')"
        )
    plan = load_or_build_plan(df, cfg)
    done = (
        completed_units(spark, cfg.output_dir)
        if cfg.skip_completed
        else np.array([], dtype=np.int64)
    )

    if cfg.cluster_by:
        missing = [c for c in cfg.cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster_by columns not in input: {missing}")
        # clustered write: ONE range exchange so each map task owns a
        # narrow cluster-column range, then an in-partition sort (Spark's
        # external sort — spills, never OOMs).  Every chunk the task cuts
        # afterwards covers a tight cluster range, which is what makes
        # the zone maps on these columns selective.  The plan was built
        # from the pre-shuffle df (same rows, sampling is order-
        # insensitive), so unit boundaries are unaffected.
        n_part = cfg.map_tasks or spark.sparkContext.defaultParallelism
        cols = list(cfg.cluster_by)
        df = df.repartitionByRange(n_part, *cols).sortWithinPartitions(*cols)

    bplan = spark.sparkContext.broadcast(plan.to_json())
    bdone = spark.sparkContext.broadcast(done)
    key_col = cfg.key_col
    payload_dir = os.path.join(cfg.output_dir, "payload")
    chunk_rows = cfg.chunk_rows
    max_buf = cfg.max_buffer_bytes
    cluster_cols = cfg.cluster_by

    def map_encode(iterator):
        plan_local = EncodePlan.from_json(bplan.value)
        done_local = bdone.value
        yield from _encode_stream(
            iterator, plan_local, done_local, key_col, payload_dir, chunk_rows, max_buf,
            cluster_cols=cluster_cols,
        )

    frags = df.mapInArrow(map_encode, FRAG_SCHEMA)
    return _finish_encode(frags, plan, done, cfg)


def encode_parquet_job(spark, input_dir: str, cfg: EncodeJobConfig, batch_rows: int = 65536) -> dict:
    """Run (or resume) the encode job reading parquet directly in the
    Python workers.

    The work-list is (file, row-group) pairs — at nominal (Iceberg) scale
    this list comes from the table's manifests; here it is built from file
    footers on the driver.  Each task opens its row groups with the Arrow
    C++ parquet reader, so raw rows NEVER cross the JVM<->Python boundary:
    the only Arrow-IPC traffic is the encoded fragments (~5x smaller).
    This is the scan topology a 1000-executor job wants — column chunks
    stream from storage straight into the encode kernels — and it is what
    `bench.py` measures.

    With ``cfg.input_format == "iceberg"``, ``input_dir`` is a catalog
    table name and the work-list comes from the table's manifests
    (:func:`_iceberg_work_items`) instead of a directory scan."""
    if cfg.input_format == "iceberg":
        items, total_rows = _iceberg_work_items(spark, input_dir)
    else:
        items, total_rows = _parquet_work_items(input_dir)
    if not items:
        raise ValueError(f"no parquet input in {input_dir}")
    plan = load_or_build_plan_parquet(spark, items, total_rows, cfg)
    done = (
        completed_units(spark, cfg.output_dir)
        if cfg.skip_completed
        else np.array([], dtype=np.int64)
    )

    bplan = spark.sparkContext.broadcast(plan.to_json())
    bdone = spark.sparkContext.broadcast(done)
    key_col = cfg.key_col
    payload_dir = os.path.join(cfg.output_dir, "payload")
    chunk_rows = cfg.chunk_rows
    max_buf = cfg.max_buffer_bytes

    # task granularity: cfg.map_tasks if pinned (benchmarks pin it so
    # every parallelism level runs identical per-task work), else ~4
    # waves of the current parallelism; chunking no longer ties fragment
    # size to this split, so the choice only balances scheduling overhead
    # against stragglers
    n_map = cfg.map_tasks or max(1, min(len(items), 4 * spark.sparkContext.defaultParallelism))
    n_map = min(n_map, len(items))
    # work distribution: the items list is BROADCAST (torrent-shipped
    # once per executor — ~50 MB for 100 TB of 64 MB row groups) and a
    # JVM-native range source carries only slice ids, so the encode
    # stage has NO python work-list relay in front of it
    bitems = spark.sparkContext.broadcast(items)
    n_items = len(items)

    def map_encode_files(iterator):
        plan_local = EncodePlan.from_json(bplan.value)
        done_local = bdone.value
        all_items = bitems.value

        def slice_items():
            for batch in iterator:
                for s in batch.column("id").to_pylist():
                    # slice s of n_map contiguous, equal slices
                    yield from all_items[n_items * s // n_map : n_items * (s + 1) // n_map]

        def batches():
            for path, rg in slice_items():
                pf = _parquet_file(path)
                for g in _expand_row_groups(pf, rg):
                    tbl = _timestamps_to_us(pf.read_row_group(g, use_threads=False))
                    yield from tbl.to_batches(max_chunksize=batch_rows)

        yield from _encode_stream(
            batches(), plan_local, done_local, key_col, payload_dir, chunk_rows, max_buf
        )

    work = spark.range(n_map, numPartitions=n_map)
    frags = work.mapInArrow(map_encode_files, FRAG_SCHEMA)
    return _finish_encode(frags, plan, done, cfg)


def _finish_encode(frags, plan: EncodePlan, done: np.ndarray, cfg: EncodeJobConfig) -> dict:
    """Shared tail of the encode job: ONE Spark action runs the encode
    stage and brings its MANIFEST rows to the driver as Arrow — the
    encoded bytes themselves were already written to payload files by
    the map tasks, so the JVM never touches them — then
    :func:`commit_fragments` writes the manifest and lineage files, and
    the returned totals come from a pyarrow read of lineage.  See the
    module docstring for why this is crash-safe without unit
    consolidation."""
    import pyarrow.compute as pc

    t_stage = time.perf_counter()
    commit_id, t_manifest = commit_fragments(
        frags.toArrow(), cfg.output_dir, manifest_dir(cfg.output_dir), cfg.run_id, cfg.batch_tag
    )
    # wall of the read→assign→encode action plus the manifest file
    # (excludes planning and the lineage commit, which are O(1) driver work)
    stage_wall = t_manifest - t_stage

    lin = _ok_lineage(cfg.output_dir, ["unit", "n_rows", "bytes_in", "bytes_out"])
    rows, bytes_in, bytes_out = (
        int(pc.sum(lin.column(c)).as_py() or 0) for c in ("n_rows", "bytes_in", "bytes_out")
    )
    return {
        "run_id": commit_id,
        "plan_units": plan.n_units,
        "resumed_units": int(done.size),
        "encoded_units": pc.count_distinct(lin.column("unit")).as_py(),
        "rows": rows,
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
        "ratio": bytes_out / bytes_in if bytes_in else None,
        "encode_stage_sec": round(stage_wall, 3),
    }


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
    Used by the scan planner's unit pruning (:mod:`.scan`), which both
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


def _union_probe_schema(payload_dir: str, probes: list[tuple[str, int]]) -> pa.Schema:
    """Union-by-name Arrow schema over one META-ONLY probe per distinct
    column-name set (container header + JSON, no payload decoded) — the
    engine's schema-evolution resolution, Iceberg-style: appends may ADD
    columns (older chunks null-pad on decode) or omit columns (newer
    rows null-pad), but a column present in two chunk generations must
    agree on type — a conflict is a loud error, never a silent cast.
    The base is the widest probe (stable tie-break on the name tuple);
    remaining fields append in that deterministic iteration order, so
    the union schema is identical across runs and partitionings."""
    from .container import read_chunk_schema

    schemas = []
    for fname, off in probes:
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
                if seen[f.name] != d:
                    raise ValueError(
                        f"schema conflict for column {f.name!r} across chunk "
                        f"generations: {seen[f.name]} vs {d}"
                    )
            else:
                fields.append(f)
                seen[f.name] = d
    return pa.schema(fields)


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
            have = _ddl_type(tbl.schema.field(f.name).type)
            want = _ddl_type(f.type)
            if have != want:
                raise ValueError(
                    f"schema conflict for column {f.name!r} across chunk "
                    f"generations: {have} vs {want}"
                )
    if names == [f.name for f in fields]:
        return tbl
    cols = []
    for f in fields:
        if f.name in names:
            cols.append(tbl.column(f.name))
        else:
            cols.append(pa.chunked_array([pa.nulls(tbl.num_rows, f.type)]))
    return pa.table(cols, names=[f.name for f in fields])


def decode_dataset(
    spark,
    output_dir: str,
    columns: list[str] | None = None,
    key_range: tuple[str | None, str | None] | None = None,
    filters: list[tuple[str, str, object]] | None = None,
    pruning_evidence: dict | None = None,
):
    """Read the encoded dataset back as a DataFrame of original rows.

    Only fragments whose (unit, run_id) is recorded ok in lineage are
    read: orphans from a run that crashed between the data commit and the
    lineage commit are silently skipped (their units were re-encoded by
    the resuming run).

    ``key_range=(lo, hi)`` (inclusive, None = unbounded) prunes the scan
    to the encode units whose range boundaries can contain such keys
    (:func:`..plans.partitioning.units_for_key_range`) — pruned units'
    payload bytes are never read, the engine's partition-pruning analog
    — then applies the exact full-precision filter on the decoded key
    column.  With ``columns``, the key column must be included (the
    residual filter needs it).

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
    records in the manifest (:func:`_chunk_stats` — the parquet
    row-group-statistics analog, orthogonal to key_range's unit
    pruning): a chunk whose recorded bounds cannot satisfy a term is
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
    :func:`key_range_from_terms`, unioned across the disjunction) —
    the same layer an explicit ``key_range`` drives, fired before any
    chunk statistics are consulted; a string IN-list on the key keeps
    only the units of its listed points.

    Execution: the scan is planned on the driver by the engine's one
    scan planner (:mod:`.scan`, shared with the ``upe_encoded`` reader)
    from metadata alone, and runs as ONE Spark job — the planned chunk
    partitions are broadcast and decoded by one task each, then the
    exact residual filter applies.  ``pruning_evidence`` (a dict) is
    filled from the planner's own masks at no extra cost:
    ``units_total``/``units_qualifying`` when ``key_range`` is given or
    every group bounds the key, and ``total``/``qualifying`` — manifest
    slice rows before and after zone-map pruning — whenever filters are
    given.

    Schema evolution (additive): appends may add or omit columns — the
    output schema is the union-by-name over all chunk generations
    (meta-only probes), and generations that predate a column read back
    as nulls; a column whose TYPE differs between generations raises a
    schema-conflict error rather than casting silently."""
    from .scan import (
        _committed_manifest,
        _probe_chunk_schema,
        _read_chunk_partition,
        plan_partitions,
    )

    key_col = None
    if key_range is not None:
        plan = _load_plan(output_dir)
        if plan is None:
            raise ValueError(f"no plan.json under {output_dir} for key-range pruning")
        key_col = plan.key_col
        if columns is not None and key_col not in columns:
            raise ValueError(
                f"key_range pruning needs the key column '{key_col}' in columns"
            )
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
    # partitions as ONE job: one task per partition, driven from a
    # JVM-native range source — the same task shape as the parquet-path
    # planner's sample stage.  Partitions pack to the engine's default
    # size, capped so the live bytes spread over the cluster's cores.
    sc = spark.sparkContext
    parts = plan_partitions(
        output_dir, man, probe, columns, fgroups,
        key_range=key_range, spread=sc.defaultParallelism, evidence=pruning_evidence,
    )
    bparts = sc.broadcast(parts)

    def decode(iterator):
        planned = bparts.value
        for batch in iterator:
            for i in batch.column("id").to_pylist():
                yield from _read_chunk_partition(planned[i])

    out = spark.range(len(parts), numPartitions=len(parts)).mapInArrow(decode, out_schema)
    if key_range is not None:
        # exact residual on the full-precision key (unit pruning is a
        # conservative prefix-range superset)
        lo, hi = key_range
        if lo is not None:
            out = out.where(_exact_col(key_col) >= lo)
        if hi is not None:
            out = out.where(_exact_col(key_col) <= hi)
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


def dataset_column_stats(spark, output_dir: str, columns: list[str] | None = None):
    """Per-column statistics answered from manifest METADATA — the
    ``MIN/MAX(col)`` diagnostic shape (the reference's only aggregate
    diagnostic is ``MIN/MAX(order_date)``,
    /root/reference/examples/advanced_integration_example.py:168-169)
    without scanning or decoding a single payload chunk, and without a
    Spark job: the committed manifest and the meta-only schema probe
    (chunk header bytes, never chunk payload) come from the scan planner
    (:mod:`.scan`), and the zone maps aggregate on the driver.

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
    from decimal import Decimal

    import pyarrow.compute as pc

    from .scan import _committed_manifest, _parse_stats, _probe_chunk_schema

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
        t = probe.field(c).type
        if pa.types.is_decimal(t):
            conv = Decimal  # bounds are stored as exact decimal strings
        elif pa.types.is_floating(t):
            conv = float
        elif pa.types.is_integer(t) or pa.types.is_timestamp(t) or pa.types.is_date(t):
            conv = int
        else:
            conv = str
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


def _timestamps_to_us(tbl: pa.Table) -> pa.Table:
    """Spark's INT96 parquet timestamps read back as ns; Spark's Arrow
    boundary only accepts µs (Spark timestamp semantics).  Lossless here —
    the source values are µs-precision."""
    fields = [
        pa.field(f.name, pa.timestamp("us", f.type.tz), f.nullable)
        if pa.types.is_timestamp(f.type) and f.type.unit != "us"
        else f
        for f in tbl.schema
    ]
    target = pa.schema(fields)
    return tbl.cast(target) if target != tbl.schema else tbl


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
