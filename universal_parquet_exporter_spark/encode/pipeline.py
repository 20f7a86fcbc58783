"""The distributed encode job: plan → map-side encode → payload files
+ manifest and lineage commit.

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
- the stage's one Spark job (``mapInArrow`` over a DataFrame, Python
  RDD tasks with no SQL over parquet) brings the manifest rows to the
  driver as Arrow, and :func:`.meta.commit_fragments` commits them
  (storage, commit protocol and crash windows: :mod:`.meta`);
- payload files hold our codec output verbatim — sizes are honest and
  decode never pays a double-decompress.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.partitioning import EncodePlan, assign_units_arrow, plan_encode
from .container import serialize_chunk
from .meta import (
    FRAG_PA_SCHEMA,
    FRAG_SCHEMA,
    _TaskPayloadWriter,
    _check_append_schema,
    _load_plan,
    _ok_lineage,
    _payload_fs,
    _persist_plan,
    commit_fragments,
    completed_units,
    manifest_dir,
)
from .scan import DEFAULT_PARTITION_BYTES, _collect_tasks, _task_cuts
from .scan import decode_dataset  # noqa: F401  (perfbench/engine.py calls pipeline.decode_dataset)
from .stats import _chunk_stats

# the encode defaults every entry point shares (EncodeJobConfig, the
# upe_encoded writer's options, compaction)
DEFAULT_CHUNK_ROWS = 32768
DEFAULT_MAX_BUFFER_BYTES = 256 << 20
# rows per Arrow batch a parquet-input task cuts each row group into
PARQUET_BATCH_ROWS = 65536


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
    chunk_rows: int = DEFAULT_CHUNK_ROWS
    # per-task buffered-bytes cap: the encode stream flushes a grouped
    # chunk wave whenever buffered input crosses this, so task memory is
    # independent of the input split size (a 100 TB job can keep
    # map_tasks small without risking executor OOM).  256 MB default =
    # several full-size chunks per wave, no measurable ratio cost.
    max_buffer_bytes: int = DEFAULT_MAX_BUFFER_BYTES
    # explicit map-task count for the parquet path (None = the engine's
    # task-sizing rule, scan._task_cuts).  Benchmarks pin this so every
    # parallelism level runs IDENTICAL per-task work.
    map_tasks: int | None = None
    # resume semantics: True (batch default) skips units already ok in
    # lineage; False (streaming append) encodes every input row, adding
    # fragments to existing units under this run's id.
    skip_completed: bool = True
    # a tag recorded in lineage beside this run's units, read back by
    # meta.completed_batch_tags
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
        fields = {
            "output_dir": str,
            "key_col": str,
            "size_cols": split_columns,
            "target_unit_bytes": int,
            "sample_rows": int,
            "run_id": str,
            "chunk_rows": int,
            "max_buffer_bytes": int,
            "map_tasks": int,
            "input_format": str,
            "cluster_by": split_columns,
        }
        # unset or empty variables leave the dataclass default in place
        given = {
            name: parse(env["UPES_ENCODE_" + name.upper()])
            for name, parse in fields.items()
            if env.get("UPES_ENCODE_" + name.upper())
        }
        return cls(**given)


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


def _parquet_work_items(input_dir: str) -> tuple[list[tuple[str, int, int]], int]:
    """(file, row group, compressed bytes) work-list + total row count
    from the footers.  At nominal (Iceberg) scale both come from the
    table's manifests instead of a directory listing."""
    import pyarrow.parquet as pq

    items: list[tuple[str, int, int]] = []
    total_rows = 0
    for fn in sorted(os.listdir(input_dir)):
        if not fn.endswith(".parquet"):
            continue
        full = os.path.join(input_dir, fn)
        md = pq.ParquetFile(full).metadata
        total_rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            items.append((full, rg, sum(g.column(j).total_compressed_size for j in range(g.num_columns))))
    return items, total_rows


def _iceberg_work_items(spark, table: str) -> tuple[list[tuple[str, int, int]], int]:
    """Work-list + row count from an Iceberg table's own manifests via its
    ``<table>.files`` metadata table — no directory listing and no
    driver-side footer scan.  Each item is ``(file_path, -1, size)``;
    the map task expands ``-1`` to the file's row groups itself (footers
    are read where the data is — the Iceberg split-planning shape).

    Copy-on-write tables only: ``content`` classifies each manifest entry
    (0 = data, 1 = position deletes, 2 = equality deletes), and a v2
    merge-on-read snapshot stores row-level deletes as delete FILES that a
    plain file scan cannot apply — encoding such a table would silently
    resurrect deleted rows, so any delete file fails the job fast instead.

    Requires an Iceberg catalog configured on the session
    (``spark.sql.catalog.*``); ``tests/test_pipeline.py`` mocks the
    metadata-table query, as the JDBC reader is tested without a database."""
    files = spark.sql(
        f"SELECT file_path, record_count, content, file_size_in_bytes FROM {table}.files"
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
    items = [(r.file_path, -1, int(r.file_size_in_bytes)) for r in data]
    total_rows = int(sum(r.record_count for r in data))
    return items, total_rows


def _parquet_file(path: str):
    """pyarrow ParquetFile for a plain path or a filesystem URI (Iceberg
    manifests store fully-qualified URIs)."""
    import pyarrow.parquet as pq

    fs, p = _payload_fs(path)
    return pq.ParquetFile(fs.open_input_file(p))


def _read_items(items):
    """A parquet map task's rows in Arrow batches: its ``(file, row
    group, bytes)`` items read by the Arrow C++ reader, row group -1
    meaning every row group in the file (Iceberg-manifest items)."""
    for path, rg, _nbytes in items:
        pf = _parquet_file(path)
        for g in range(pf.metadata.num_row_groups) if rg < 0 else (rg,):
            tbl = _timestamps_to_us(pf.read_row_group(g, use_threads=False))
            yield from tbl.to_batches(max_chunksize=PARQUET_BATCH_ROWS)


def load_or_build_plan_parquet(
    items: list[tuple[str, int, int]], total_rows: int, cfg: EncodeJobConfig
) -> EncodePlan:
    """Parquet-path planner: sample (key, row-size) from at most 16 row
    groups, read by pyarrow on the driver one at a time — no Spark job,
    and the full input is never scanned (a DataFrame ``.sample()`` would
    scan everything).  Size columns the input lacks are skipped (none
    left: 8 bytes a row, the DataFrame planner's rule); a missing key
    column raises ``ValueError``."""
    plan = _load_plan(cfg.output_dir)
    if plan is not None:
        return plan

    import pyarrow.compute as pc

    from ..plans.partitioning import plan_from_sample

    key_col = cfg.key_col
    pick = items[:: max(1, len(items) // 16)][:16]
    per_item = max(64, cfg.sample_rows // len(pick))
    keys, sizes = [], []
    for path, rg, _nbytes in pick:
        tbl = _parquet_file(path).read_row_group(max(rg, 0), columns=[key_col, *cfg.size_cols])
        if key_col not in tbl.column_names:
            raise ValueError(f"key column {key_col!r} is not in the parquet input {path}")
        rows = np.arange(0, tbl.num_rows, max(1, tbl.num_rows // per_item))
        size_cols = [c for c in cfg.size_cols if c in tbl.column_names]
        sz = np.full(tbl.num_rows, 0 if size_cols else 8, dtype=np.int64)
        for c in size_cols:
            sz += pc.coalesce(pc.binary_length(tbl.column(c)), 0).to_numpy()
        keys.append(tbl.column(key_col).take(rows).cast(pa.string()).combine_chunks())
        sizes.append(sz[rows])
    sample = pa.table({"k": pa.chunked_array(keys, pa.string()), "sz": np.concatenate(sizes)})
    plan = plan_from_sample(sample, total_rows, key_col, cfg.target_unit_bytes)
    _persist_plan(plan, cfg.output_dir)
    return plan


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


def _head_value_bytes(col: pa.ChunkedArray, limit: int) -> bytes:
    """The first ``limit`` value bytes of a string or binary column, the
    bytes ``combine_chunks()`` would start its data buffer with: each
    chunk's values from its own first offset, so a sliced chunk starts at
    its slice and only the sample is copied."""
    parts, need = [], limit
    for arr in col.chunks:
        if need <= 0:
            break
        _validity, offsets, data = arr.buffers()
        if data is None or not len(arr):
            continue
        wide = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        lo, hi = np.frombuffer(offsets, np.int64 if wide else np.int32)[[arr.offset, arr.offset + len(arr)]]
        parts.append(memoryview(data)[int(lo) : int(min(hi, lo + need))])
        need -= len(parts[-1])
    return b"".join(parts)


def _encode_stream(
    iterator,
    plan_local: EncodePlan,
    done_local: np.ndarray,
    key_col: str,
    payload_dir: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    max_buffer_bytes: int = DEFAULT_MAX_BUFFER_BYTES,
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
                sample = _head_value_bytes(probe.column(field.name), 65536)
                if len(sample) >= 64:
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

    ONE ``mapInArrow`` job: every input partition encodes its rows into
    per-unit *fragments*, writes their payload straight to storage and
    returns only their manifest rows, which the driver commits
    (:func:`_finish_encode`); no shuffle runs and nothing is re-encoded.
    Fragment boundaries depend on input splits, so payload bytes may
    differ between runs at different parallelism — decoded data is
    identical (the north-rule invariant), and resume stays unit-atomic
    via lineage.

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
    # before planning, which runs Spark jobs and persists plan.json
    missing = [c for c in cfg.cluster_by if c not in df.columns]
    if missing:
        raise ValueError(f"cluster_by columns not in input: {missing}")
    _check_append_schema(cfg.output_dir, to_arrow_schema(df.schema))
    t_plan = time.perf_counter()
    plan = load_or_build_plan(df, cfg)
    plan_sec = time.perf_counter() - t_plan
    if cfg.cluster_by:
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
    return _run_encode(spark, df, plan, plan_sec, cfg, cluster_cols=cfg.cluster_by)


def encode_parquet_job(spark, input_dir: str, cfg: EncodeJobConfig) -> dict:
    """Run (or resume) the encode job reading parquet directly in the
    Python workers.

    The work-list is (file, row-group) pairs — at nominal (Iceberg) scale
    this list comes from the table's manifests; here it is built from file
    footers on the driver.  Each task opens its row groups with the Arrow
    C++ parquet reader, so no row enters the JVM: the stage runs as
    Python RDD tasks with no SQL query (:func:`.scan._collect_tasks`).
    This is the scan topology a 1000-executor job wants — column chunks
    stream from storage straight into the encode kernels — and it is what
    `bench.py` measures.  The plan is sampled on the driver
    (:func:`load_or_build_plan_parquet`), so a call runs ONE Spark job,
    the encode stage, on a fresh directory and on a resume alike.

    With ``cfg.input_format == "iceberg"``, ``input_dir`` is a catalog
    table name and the work-list comes from the table's manifests
    (:func:`_iceberg_work_items`) instead of a directory scan."""
    if cfg.input_format == "iceberg":
        items, total_rows = _iceberg_work_items(spark, input_dir)
    else:
        items, total_rows = _parquet_work_items(input_dir)
    if not items:
        raise ValueError(f"no parquet input in {input_dir}")
    with _parquet_file(items[0][0]) as first:
        # Arrow reads Spark's INT96 instants as naive timestamps, which
        # the guard would take for TIMESTAMP_NTZ: it skips them, and
        # decode's per-chunk type check still rejects a non-timestamp
        int96 = {c.path for c in first.schema if c.physical_type == "INT96"}
        _check_append_schema(cfg.output_dir, pa.schema([f for f in first.schema_arrow if f.name not in int96]))
    t_plan = time.perf_counter()
    plan = load_or_build_plan_parquet(items, total_rows, cfg)
    plan_sec = time.perf_counter() - t_plan

    # runs of items cut by stored bytes, or map_tasks runs if pinned: each
    # task trains FSST once and cuts chunks within its own rows
    n_min = cfg.map_tasks or spark.sparkContext.defaultParallelism
    target = float("inf") if cfg.map_tasks else DEFAULT_PARTITION_BYTES
    cuts = _task_cuts([nbytes for *_, nbytes in items], n_min, target)
    key_col, payload_dir = cfg.key_col, os.path.join(cfg.output_dir, "payload")
    chunk_rows, max_buf = cfg.chunk_rows, cfg.max_buffer_bytes

    def stage(plan_json, done):
        # one entry per map task, its run of items, in the job's one
        # broadcast (unpickled once per Python worker — ~50 MB for 100 TB
        # of 64 MB row groups — and pickle writes the shared plan string
        # and resume array once)
        parts = [(plan_json, done, items[s:e]) for s, e in zip(cuts[:-1], cuts[1:])]

        def encode_slice(part):
            plan_json, done_local, slice_items = part
            yield from _encode_stream(
                _read_items(slice_items), EncodePlan.from_json(plan_json), done_local, key_col,
                payload_dir, chunk_rows, max_buf,
            )

        return _collect_tasks(spark, parts, encode_slice, FRAG_PA_SCHEMA)

    return _finish_encode(stage, plan, plan_sec, cfg)


def _run_encode(spark, df, plan: EncodePlan, plan_sec: float, cfg: EncodeJobConfig, cluster_cols=()) -> dict:
    """``encode_job``'s stage: ONE broadcast carries the plan and the
    units a resume skips, and each partition of ``df`` is encoded through
    :func:`_encode_stream` in a ``mapInArrow`` query (the rows come from
    the JVM), then committed through :func:`_finish_encode`."""
    key_col, payload_dir = cfg.key_col, os.path.join(cfg.output_dir, "payload")
    chunk_rows, max_buf = cfg.chunk_rows, cfg.max_buffer_bytes

    def stage(plan_json, done):
        bjob = spark.sparkContext.broadcast((plan_json, done))

        def map_encode(iterator):
            plan_json, done_local = bjob.value
            yield from _encode_stream(
                iterator, EncodePlan.from_json(plan_json), done_local, key_col, payload_dir, chunk_rows,
                max_buf, cluster_cols=cluster_cols,
            )

        return df.mapInArrow(map_encode, FRAG_SCHEMA).toArrow()

    return _finish_encode(stage, plan, plan_sec, cfg)


def _finish_encode(stage, plan: EncodePlan, plan_sec: float, cfg: EncodeJobConfig) -> dict:
    """Shared tail of the encode job: ``stage(plan JSON, resume set)``
    runs the encode stage as ONE Spark job and returns its MANIFEST rows
    on the driver as Arrow — the encoded bytes themselves were already
    written to payload files by the map tasks, so the JVM never touches
    them — then :func:`.meta.commit_fragments` writes the manifest and
    lineage files, and the returned totals come from the committed
    lineage.  See :mod:`.meta` for why this is crash-safe without unit
    consolidation."""
    import pyarrow.compute as pc

    done = completed_units(cfg.output_dir) if cfg.skip_completed else np.array([], dtype=np.int64)
    t_stage = time.perf_counter()
    commit_id, t_manifest = commit_fragments(
        stage(plan.to_json(), done), cfg.output_dir, manifest_dir(cfg.output_dir), cfg.run_id, cfg.batch_tag
    )
    # wall of the read→assign→encode job plus the manifest file
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
        "plan_sec": round(plan_sec, 3),
        "encode_stage_sec": round(stage_wall, 3),
    }


def _timestamps_to_us(tbl: pa.Table) -> pa.Table:
    """Spark's INT96 parquet timestamps read back as ns; they are stored
    in µs, Spark's unit, as a DataFrame encode stores them.  Lossless
    here — the source values are µs-precision."""
    fields = [
        pa.field(f.name, pa.timestamp("us", f.type.tz), f.nullable)
        if pa.types.is_timestamp(f.type) and f.type.unit != "us"
        else f
        for f in tbl.schema
    ]
    target = pa.schema(fields)
    return tbl.cast(target) if target != tbl.schema else tbl
