"""Spark Python DataSource (``upe_encoded``) over the engine's containers.

Makes an encoded dataset a FIRST-CLASS Spark format instead of a
function-call API — the integration surface the reference exposes
through pandas ``to_parquet`` files (``/root/reference/src/export/
parquet_writer.py:17``), re-expressed as Spark's own source/sink
protocol (pyspark 4.1 ``pyspark.sql.datasource``):

    from universal_parquet_exporter_spark.sources.spark_datasource import register
    register(spark)

    spark.read.format("upe_encoded").load(out_dir)          # full scan
    spark.read.format("upe_encoded").option("columns", "url,lang") \
         .load(out_dir).where("url >= 'https://h'")         # Spark filters

    df.write.format("upe_encoded").mode("append").save(out_dir)   # encode sink

    stream.writeStream.format("upe_encoded") \
      .option("checkpointLocation", ck).start(out_dir)       # streaming sink

    spark.readStream.format("upe_encoded").load(out_dir)      # streaming READ:
        # tail the dataset's commits as micro-batches (offset = cursor in
        # the (committed_at, run_id) total order — see _EncodedStreamReader)

What Spark's v2 source protocol covers here, mechanically:

- **No filter pushdown**: the reader plans every committed chunk and
  Spark applies a query's filters to the rows it returns.  Plan-time
  pruning cannot be made safe in a Python source on Spark 4.1.2: once a
  reader takes pushed filters, ``PythonScanBuilder`` stores the pushed
  plan on the relation (``PythonDataSourceV2.setReadInfo``) and
  ``getOrCreateReadInfo`` hands it to every later query on the same
  DataFrame, which would then read only the first query's chunks.  A
  filtered read that should prune units and chunks goes through
  :func:`..encode.scan.decode_dataset`, whose planner sees its filters.
- **Partition planning**: this reader is a thin protocol adapter over
  the engine's one scan planner, :mod:`..encode.scan`, which
  :func:`..encode.scan.decode_dataset` runs too: committed manifest
  rows (lineage semi-join, so orphans from torn runs are invisible)
  packed into ~``partition_target_bytes`` scan partitions by payload
  locality.  Planning reads ONLY metadata (manifest + lineage parquet)
  with pyarrow — it runs in Spark's planning worker where no
  SparkSession exists, exactly like a JVM DSv2 ``ScanBuilder``.
- **Write commit protocol** (``DataSourceArrowWriter``): tasks encode
  their Arrow batches with the engine's own stream
  (:func:`..encode.pipeline._encode_stream` — codec auto-selection,
  bounded buffering, payload files written straight to storage) and
  return their manifest rows as the task's ``WriterCommitMessage``; only
  the driver's ``commit()`` appends manifest + lineage, through the same
  :func:`..encode.meta.commit_fragments` the encode jobs use.  A failed or
  speculative task leaves at most an uncommitted payload file — dead
  bytes that ``vacuum`` sweeps — so the sink inherits the engine's
  exactly-once-at-job-granularity story through Spark's OWN commit
  protocol instead of beside it.  ``mode("overwrite")`` is ATOMIC: it
  publishes a new manifest generation through
  :func:`..encode.meta.publish_generation`, whose
  ``manifest_current`` pointer swaps last (Iceberg version-hint
  pattern); readers see the old or the new dataset, never a mix.
- **Streaming sink** (``DataSourceStreamArrowWriter``): each micro-batch
  commits under a ``ds_epoch_<batchId>`` lineage tag with a
  batch-unique run id; a replayed epoch (failure between sink commit
  and checkpoint write) is detected by its already-committed tag and
  skipped — exactly-once at batch granularity.

Writes require the dataset plan (``plan.json``) to exist — create it
with :func:`..encode.pipeline.load_or_build_plan` (or any prior
``encode_job``) first, the create-table-then-append model: unit
identity must be global and deterministic, and a per-task writer cannot
sample the whole input.  The plan also names the key column, so a
write needs no ``key_col`` option.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema

from ..encode.meta import (
    FRAG_PA_SCHEMA,
    _arrow_to_ddl,
    _check_append_schema,
    _committed_manifest,
    _committed_run_order,
    _load_plan,
    _probe_chunk_schema,
    _remove_files,
    commit_fragments,
    completed_batch_tags,
    manifest_dir,
    next_manifest_name as _next_manifest_name,
    publish_generation,
)
from ..encode.pipeline import (
    DEFAULT_CHUNK_ROWS,
    DEFAULT_MAX_BUFFER_BYTES,
    _encode_stream,
    split_columns,
)
from ..encode.scan import (
    DEFAULT_PARTITION_BYTES,
    _ChunkScanPartition,
    _read_chunk_partition,
    plan_partitions,
)
from ..plans.partitioning import EncodePlan

FORMAT_NAME = "upe_encoded"


def register(spark) -> None:
    """Register the ``upe_encoded`` format on a session."""
    spark.dataSource.register(EncodedContainerDataSource)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _read_options(options) -> tuple[str, list[str] | None, int]:
    """A read's ``path``, ``columns`` (None = every column) and
    ``partition_target_bytes``: one parse for ``schema()`` and both
    readers."""
    path = options.get("path")
    if not path:
        raise ValueError("upe_encoded requires a path: .load(<output_dir>)")
    columns = list(split_columns(options.get("columns", ""))) or None
    return path, columns, int(options.get("partition_target_bytes", DEFAULT_PARTITION_BYTES))


def _plan_scan(path: str, columns: list[str] | None, target_bytes: int, runs=None) -> list:
    """Scan partitions over every committed chunk, or over the fragments
    of ``runs`` only, in the whole dataset's union schema.  No filter
    prunes them: Spark filters the rows the reader returns."""
    man = _committed_manifest(path)
    rows = man
    if runs is not None:
        import pyarrow.compute as pc

        rows = man.filter(pc.is_in(man.column("run_id"), pa.array(runs, pa.string())))
    if rows.num_rows == 0:
        return [_ChunkScanPartition(os.path.join(path, "payload"), columns, [], [])]
    return plan_partitions(path, rows, _probe_chunk_schema(path, man), columns, [], target_bytes=target_bytes)


class _EncodedReader(DataSourceReader):
    """Batch reader: every committed chunk, packed into scan partitions.
    It takes no pushed filters (see the module docstring), so it works
    whatever ``spark.sql.python.filterPushdown.enabled`` says."""

    def __init__(self, options):
        self.path, self.columns, self.target_bytes = _read_options(options)

    def partitions(self):
        return _plan_scan(self.path, self.columns, self.target_bytes)

    def read(self, partition: _ChunkScanPartition):
        return _read_chunk_partition(partition)


# ---------------------------------------------------------------------------
# streaming read: tail an encoded dataset's commits as micro-batches
# ---------------------------------------------------------------------------


def _current_generation(path: str) -> str:
    """The dataset's live manifest-generation name (``data`` or
    ``data_v<N>`` after an atomic overwrite/vacuum pointer swap)."""
    return os.path.basename(manifest_dir(path).rstrip("/"))


class _EncodedStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("upe_encoded")`` — tail a dataset's
    COMMITS.  Completes the source matrix (batch read, batch sink,
    stream sink): an encoded dataset becomes a message-log-like input
    for downstream Structured Streaming jobs, the Delta/Iceberg
    streaming-table pattern re-expressed over this engine's
    manifest+lineage commit protocol.

    Offsets are ``{"gen", "ts", "run"}``: the manifest GENERATION the
    stream is pinned to plus the high-water cursor in the total order
    ``(committed_at_µs, run_id)`` over committed runs
    (:func:`..encode.meta._committed_run_order`).  A micro-batch is the half-open
    cursor interval ``(start, end]`` → the manifest fragments of exactly
    those runs, planned into locality-packed chunk partitions by the
    same vectorized planner the batch reader uses
    (:func:`_pack_chunk_partitions`).  Lineage is append-only within a
    generation, so a replayed ``(start, end]`` rebuilds byte-identical
    batches — exactly-once through Spark's own offset log, with no
    reader-side state.

    Determinism contract (documented, enforced where cheap): commits to
    a streamed dataset must come through this engine's commit paths
    (they stamp ``committed_at`` from one clock per commit).  A manifest
    REWRITE — ``mode("overwrite")``, compaction pointer swap — changes
    the generation and invalidates every outstanding cursor; rather
    than silently re-emitting rewritten history, ``partitions()`` fails
    loudly and the stream must restart from a fresh checkpoint (the
    Iceberg streaming-read rule).  ``initialOffset`` honors
    ``option("starting", "earliest"|"latest")`` — earliest (default)
    replays the dataset's full committed history as batch 0."""

    def __init__(self, options):
        self.path, self.columns, self.target_bytes = _read_options(options)
        self.starting = options.get("starting", "earliest").lower()
        if self.starting not in ("earliest", "latest"):
            raise ValueError(f"starting must be earliest|latest, got {self.starting!r}")
        # admission control (the maxFilesPerTrigger analog): cap each
        # micro-batch at this many COMMITS.  The Python stream protocol
        # requests latestOffset BEFORE the initial/checkpoint cursor is
        # visible to the reader (measured: in every trigger mode,
        # including the availableNow single-batch fallback), so the
        # FIRST batch of each query run is necessarily uncapped —
        # capping blind would return an offset possibly BEHIND the
        # checkpoint, which regresses the offset log and re-emits data.
        # The cap therefore bounds STEADY-STATE admission: once the
        # cursor is known (initialOffset, a planned interval, or a
        # previous latestOffset), each further batch admits at most
        # max_runs commits (0 = unlimited).
        self.max_runs = int(options.get("max_runs_per_batch", 0))
        self._cursor: tuple[int, str] | None = None

    # -- offsets -------------------------------------------------------
    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return self.latestOffset()
        self._cursor = (-1, "")
        return {"gen": _current_generation(self.path), "ts": -1, "run": ""}

    def latestOffset(self) -> dict:
        gen = _current_generation(self.path)
        order = _committed_run_order(self.path)
        if not order:
            self._cursor = (-1, "")
            return {"gen": gen, "ts": -1, "run": ""}
        ts, run = order[-1]
        if self.max_runs > 0 and self._cursor is not None:
            pending = [x for x in order if x > self._cursor]
            if pending:
                ts, run = pending[min(self.max_runs, len(pending)) - 1]
            else:
                ts, run = self._cursor
        self._cursor = (ts, run)
        return {"gen": gen, "ts": ts, "run": run}

    # -- planning (driver) ----------------------------------------------
    def partitions(self, start: dict, end: dict):
        gen = _current_generation(self.path)
        for off in (start, end):
            if off.get("gen") != gen:
                raise ValueError(
                    f"encoded dataset {self.path} was rewritten (manifest "
                    f"generation {off.get('gen')!r} -> {gen!r}, e.g. by "
                    "mode('overwrite'), compaction, or vacuum's pointer "
                    "swap) while a stream was reading it; its offsets no "
                    "longer name the same data. Restart the stream with a "
                    "fresh checkpointLocation to re-baseline."
                )
        lo = (int(start.get("ts", -1)), start.get("run", ""))
        hi = (int(end.get("ts", -1)), end.get("run", ""))
        if self._cursor is None or hi > self._cursor:
            # restart replay: Spark re-plans the checkpointed interval
            # before asking for a new offset — seed the admission-control
            # cursor from it so the NEXT batch caps from the right place
            self._cursor = hi
        runs = [r for t, r in _committed_run_order(self.path) if lo < (t, r) <= hi]
        # the OUTPUT schema is the full dataset's union (fixed at stream
        # start by Spark); the scan partitions hold this interval's
        # fragments only
        return _plan_scan(self.path, self.columns, self.target_bytes, runs)

    # -- executor side ---------------------------------------------------
    def read(self, partition: _ChunkScanPartition):
        return _read_chunk_partition(partition)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; nothing reader-side to GC
        pass


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


class _FragMessage(WriterCommitMessage):
    """One task's manifest rows (fragment bookkeeping, ~100 B/row — the
    payload bytes themselves went straight to storage)."""

    def __init__(self, rows: list[dict]):
        self.rows = rows


class _EncodedWriterBase:
    """Shared executor-side encode + driver-side commit bookkeeping."""

    def __init__(self, options, schema):
        schema_names = [f.name for f in schema.fields]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("upe_encoded requires a path: .save(<output_dir>)")
        plan = _load_plan(self.path)
        if plan is None:
            raise ValueError(
                f"no plan.json under {self.path}: encoded datasets are "
                "created-then-appended (unit identity must be global). "
                "Initialize once with load_or_build_plan(df, EncodeJobConfig"
                f"(output_dir={self.path!r}, key_col=<key column>)) or a "
                "prior encode_job."
            )
        self.plan_json = plan.to_json()
        # the plan fixes the key column; an explicit option must agree
        self.key_col = options.get("key_col", plan.key_col)
        if self.key_col != plan.key_col:
            raise ValueError(
                f"dataset plan partitions on {plan.key_col!r}, not {self.key_col!r}"
            )
        if self.key_col not in schema_names:
            raise ValueError(
                f"key column {self.key_col!r} of the dataset plan is not in the "
                f"written schema {schema_names}"
            )
        self.chunk_rows = int(options.get("chunk_rows", DEFAULT_CHUNK_ROWS))
        self.max_buffer_bytes = int(options.get("max_buffer_bytes", DEFAULT_MAX_BUFFER_BYTES))
        # .option("cluster_by", "col1,col2"): the sink-side half of
        # write-time clustering (EncodeJobConfig.cluster_by).  A Spark
        # DataSource writer cannot repartition its own input, so the
        # caller pre-clusters (df.repartitionByRange(...).sortWithin
        # Partitions(...)) and this option keeps that order INSIDE every
        # unit slice instead of re-sorting by key — chunk zone maps on
        # the cluster columns stay narrow either way (they follow the
        # flush wave), this preserves the RLE/FOR run structure too.
        self.cluster_cols = split_columns(options.get("cluster_by", ""))
        missing = [c for c in self.cluster_cols if c not in schema_names]
        if missing:
            raise ValueError(f"cluster_by columns not in the written schema: {missing}")
        self.run_id = uuid.uuid4().hex[:12]

    # -- executor side ------------------------------------------------
    def write(self, iterator):
        plan_local = EncodePlan.from_json(self.plan_json)
        out = list(
            _encode_stream(
                iterator,
                plan_local,
                np.array([], dtype=np.int64),
                self.key_col,
                os.path.join(self.path, "payload"),
                self.chunk_rows,
                self.max_buffer_bytes,
                cluster_cols=self.cluster_cols,
            )
        )
        return _FragMessage(out[0].to_pylist() if out else [])

    # -- commit side (Spark's Python planning worker: pyarrow only) -----
    @staticmethod
    def _frags(messages) -> pa.Table:
        """The tasks' manifest rows as one table.  Spark's commit hook
        runs in the Python planning worker where no SparkSession exists;
        the commit needs none (pyarrow files, temp-write + rename)."""
        rows = [r for m in messages if m is not None for r in m.rows]
        return pa.Table.from_pylist(rows, schema=FRAG_PA_SCHEMA)

    def _drop_payload(self, messages) -> None:
        """Best-effort removal of aborted/duplicate tasks' payload files;
        anything missed is an orphan the vacuum sweep collects."""
        names = {r["file"] for m in messages or [] for r in getattr(m, "rows", []) or []}
        _remove_files(os.path.join(self.path, "payload"), names, ignore=OSError)


class _EncodedBatchWriter(_EncodedWriterBase, DataSourceArrowWriter):
    def __init__(self, options, schema, overwrite: bool):
        super().__init__(options, schema)
        self.overwrite = overwrite
        # the additive-evolution type guard protects the UNION probe of
        # data that will still be visible after this write — which an
        # overwrite supersedes entirely, so only append checks it (a
        # type-changing overwrite is a legitimate full replacement)
        if not overwrite:
            _check_append_schema(self.path, to_arrow_schema(schema))
        # an overwrite's generation is fixed at PLANNING time; the
        # pointer swap in commit() is what publishes it; an append
        # commits into the manifest dir live at planning
        self.generation = _next_manifest_name(self.path) if overwrite else None
        self.data_dir = None if overwrite else manifest_dir(self.path)

    def commit(self, messages):
        # an append commits through the shared commit_fragments; an
        # overwrite publishes a new generation holding only its rows —
        # readers resolve the old dataset until the pointer lands, and
        # superseded payload/manifest bytes age out under vacuum's horizon
        if self.overwrite:
            publish_generation(self.path, self.run_id, self._frags(messages), name=self.generation)
        else:
            commit_fragments(self._frags(messages), self.path, self.data_dir, self.run_id)

    def abort(self, messages):
        self._drop_payload(messages)


class _EncodedStreamWriter(_EncodedWriterBase, DataSourceStreamArrowWriter):
    """Micro-batch sink with replay-proof commits: the lineage tag
    ``ds_epoch_<query_token>_<batchId>`` plus a batch-unique run id give
    exactly-once at batch granularity.

    The tag is SCOPED by a token derived from the query's checkpoint
    location: restarts from the same checkpoint share the token (and
    Spark keeps their batchIds monotonic), while a NEW query (fresh
    checkpoint) writing to a dataset that already received epochs gets a
    fresh token — its batchId 0 can never collide with an earlier
    query's committed epoch 0 and be misread as a replay (which would
    silently drop its payload)."""

    def __init__(self, options, schema):
        super().__init__(options, schema)
        # streaming epochs are appends — the additive-evolution guard
        # always applies here
        _check_append_schema(self.path, to_arrow_schema(schema))
        ck = options.get("checkpointLocation")
        if ck:
            import hashlib

            norm = ck if "://" in ck else os.path.abspath(ck)
            self._query_token = hashlib.sha1(norm.encode()).hexdigest()[:12]
        else:
            # no checkpoint → Spark cannot replay an epoch; a per-writer
            # token keeps the tags unique without replay semantics
            self._query_token = self.run_id

    def _tag(self, batch_id: int) -> str:
        return f"ds_epoch_{self._query_token}_{batch_id}"

    def commit(self, messages, batchId: int):
        tag = self._tag(batchId)
        if tag in completed_batch_tags(self.path):
            # replayed epoch (sink committed, checkpoint didn't): the
            # rerun's payload files are duplicates — drop, don't commit
            self._drop_payload(messages)
            return
        commit_fragments(
            self._frags(messages), self.path, manifest_dir(self.path), f"{self.run_id}-b{batchId}", tag
        )

    def abort(self, messages, batchId: int):
        self._drop_payload(messages)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class EncodedContainerDataSource(DataSource):
    """``spark.read.format("upe_encoded")`` / ``df.write.format("upe_encoded")``.

    Read options: ``columns`` (comma-separated decode pruning — excluded
    columns' buffers are skipped un-decompressed), ``partition_target_bytes``
    (scan-task payload size, default 64 MB).
    Write options: ``key_col`` (defaults to the dataset plan's key
    column, and must match it), ``chunk_rows``, ``max_buffer_bytes``.
    See the module docstring for semantics."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        path, columns, _target_bytes = _read_options(self.options)
        probe = _probe_chunk_schema(path, _committed_manifest(path))
        if columns:
            missing = [c for c in columns if c not in probe.names]
            if missing:
                raise ValueError(f"columns not in dataset: {missing}")
        return _arrow_to_ddl(probe, columns)

    def reader(self, schema):
        return _EncodedReader(self.options)

    def writer(self, schema, overwrite: bool):
        return _EncodedBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError("upe_encoded streaming supports append mode only")
        return _EncodedStreamWriter(self.options, schema)

    def streamReader(self, schema):
        return _EncodedStreamReader(self.options)
