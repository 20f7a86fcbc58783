"""Compaction: rewrite fragmented encode units into full-size chunks.

Append commits and streaming epochs add FRAGMENTS to existing units
(the design that makes them cheap and crash-safe), so a long-lived
dataset ingested in small batches drifts toward many small chunks —
and small chunks are measurably bad: the codec layer runs ~5× slower
per byte below ~10k rows and compresses worse (BENCH/BASELINE.md §3),
the exact drift Iceberg's ``rewrite_data_files`` action exists to
repair.  :func:`compact` is the engine's analog:

1. **Select** committed units whose average slice is smaller than
   ``min_avg_slice_rows`` (default ``chunk_rows // 2``) — work is
   proportional to the FRAGMENTED data only, never the healthy bulk.
   Selection is an Arrow ``group_by`` over the scan planner's cached
   committed manifest (:func:`.meta._committed_manifest`), on the
   driver, with no Spark job.
2. **Rewrite** those units in ONE Spark job with no SQL query
   (:func:`.scan._collect_tasks`): the driver cuts the target units
   into tasks by their payload bytes (:func:`.scan._task_cuts`), packs
   each task's slices into one scan partition and broadcasts them with
   the plan, the job's one broadcast; each Python task decodes its units'
   slices straight from storage through the scan module's read loop
   (payload bytes never enter the JVM, and there is no shuffle), casts
   them to the targets' union types, re-encodes them as fresh
   ~``chunk_rows``-row chunks with freshly trained FSST tables and zone
   maps, appends new payload files, and returns their manifest rows.
3. **Publish atomically** through :func:`.meta.publish_generation`,
   the rewrite vacuum and the overwrite sink share: it re-reads the
   live manifest and drops exactly the ``(unit, run_id)`` pairs step 1
   selected, so the new ``data_v<N>`` dir gets every other row
   (non-compacted units verbatim — their committed lineage stays valid
   — plus in-flight runs' young uncommitted rows and rows committed
   since the selection, which must outlive the rewrite), then the
   compacted units' new rows and their lineage through
   :func:`.meta.commit_fragments`, the commit every encode path
   shares; the pointer lands last, so a reader resolves either the old
   complete manifest or the new one.

Crash windows mirror the encode job's: payload written but lineage
missing → orphan files vacuum sweeps; lineage written but pointer not
swapped → an unreferenced ``data_v<N>`` dir that ages out under
:func:`~.maintenance.vacuum`'s retired-manifest horizon (the new
lineage rows match no row of the live manifest).  Superseded payload
chunks of compacted units become dead only when NO surviving manifest
row references them (multi-unit chunks shared with healthy units stay
live) — the next vacuum reclaims the rest.

Concurrency contract = vacuum's: run while no encode job is writing,
or rely on the kept-young-rows rule above plus a later horizoned
vacuum.  The reference has no analog (one file per export run,
``/root/reference/examples/basic_integration_example.py:101-116``);
this is 100 TB hygiene the north rule's resumable-ingest design makes
necessary.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .meta import (
    FRAG_PA_SCHEMA,
    _committed_manifest,
    _load_plan,
    _probe_chunk_schema,
    publish_generation,
)
from .pipeline import DEFAULT_CHUNK_ROWS, DEFAULT_MAX_BUFFER_BYTES, _encode_stream
from .scan import _collect_tasks, _pack_chunk_partitions, _read_padded, _task_cuts


def compact(
    spark,
    output_dir: str,
    *,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    min_avg_slice_rows: int | None = None,
    max_buffer_bytes: int = DEFAULT_MAX_BUFFER_BYTES,
    dry_run: bool = False,
    cluster_by: tuple = (),
) -> dict:
    """Merge fragmented units' slices into full-size chunks; see module
    docstring.  Returns selection + rewrite counters; decoded data is
    unchanged by construction (pytest- and driver-oracle-gated).

    ``cluster_by`` additionally RE-SORTS each rewritten unit's rows by
    the given columns before re-chunking (Iceberg's sort-strategy
    ``rewrite_data_files``): a dataset ingested in interleaved arrival
    order gains narrow per-chunk zone maps on those columns
    retroactively, without re-reading the source.  Selection is
    unchanged — pair with a large ``min_avg_slice_rows`` to re-cluster
    every multi-slice unit, not just fragmented ones."""
    from ..plans.partitioning import EncodePlan

    threshold = min_avg_slice_rows if min_avg_slice_rows is not None else chunk_rows // 2
    plan = _load_plan(output_dir)
    if plan is None:
        raise ValueError(f"no plan.json under {output_dir}: not an encoded dataset")
    payload_dir = os.path.join(output_dir, "payload")

    man = _committed_manifest(output_dir)
    per_unit = man.group_by("unit", use_threads=False).aggregate(
        [([], "count_all"), ("n_rows", "sum"), ("bytes_out", "sum")]
    )
    n_slices = per_unit.column("count_all").to_numpy()
    rows = per_unit.column("n_rows_sum").to_numpy()
    is_target = pa.array((n_slices > 1) & (rows / n_slices < threshold))
    targets = per_unit.filter(is_target)
    n_targets = targets.num_rows
    report = {
        "units_total": per_unit.num_rows,
        "units_compacted": n_targets,
        "slices_before": pc.sum(targets.column("count_all")).as_py() or 0,
        "slices_after": 0,
        "bytes_before": pc.sum(targets.column("bytes_out_sum")).as_py() or 0,
        "bytes_after": 0,
        "manifest_rewritten": False,
        "dry_run": dry_run,
    }
    if cluster_by:
        # validate against the DATASET's union schema (meta-only probes
        # over committed rows) before any early return, so a typo'd
        # column fails loudly even when selection is empty
        ds_names = _probe_chunk_schema(output_dir, man).names
        missing_cols = [c for c in cluster_by if c not in ds_names]
        if missing_cols:
            raise ValueError(
                f"cluster_by columns not in the dataset schema: {missing_cols}"
            )
    if not n_targets or dry_run:
        return report

    # schema evolution: a target unit may hold chunks from several
    # generations (different column sets).  The rewrite merges their rows
    # into shared chunks, so each decoded chunk is padded to the
    # generations' UNION schema first (typed nulls, same union-by-name
    # resolution decode uses — absent-column rows read back as null
    # before and after compaction).  One meta-only probe per distinct
    # name set over the TARGET slices finds that union; a type flip
    # between generations fails loudly here, not mid-rewrite.
    slices = man.filter(pc.is_in(man.column("unit"), value_set=targets.column("unit")))
    union_fields = list(_probe_chunk_schema(output_dir, slices))
    # the rewrite pads rows to the TARGETS' union only, so a cluster
    # column that exists solely in non-target generations would crash
    # the sort on an executor mid-rewrite — fail here instead
    absent = [c for c in cluster_by if c not in {f.name for f in union_fields}]
    if absent:
        raise ValueError(
            f"cluster_by columns {absent} exist only in generations outside the "
            "units selected for compaction; their rows cannot be sorted by them"
        )

    # a unit's slices must meet in one task (so it re-packs into the
    # fewest chunks): runs of units in id order, cut by payload bytes,
    # each one scan partition over all columns of the targets' union
    targets = targets.sort_by("unit")
    firsts = np.concatenate(([0], np.cumsum(targets.column("count_all"))))
    cuts = firsts[_task_cuts(targets.column("bytes_out_sum"), spark.sparkContext.defaultParallelism)]
    by_unit = slices.sort_by("unit")
    # each task's partition travels with the plan JSON in the job's one
    # broadcast (pickled once: every entry shares the same string)
    plan_json = plan.to_json()
    parts = [
        (plan_json, _pack_chunk_partitions(
            by_unit.slice(s, e - s), payload_dir, None, union_fields, float("inf"), [], None
        )[0])
        for s, e in zip(cuts[:-1], cuts[1:])
    ]
    key_col = plan.key_col

    def rewrite(planned):
        """Feed the partition's decoded rows straight back through the
        encode stream — payload in and out via storage.  Each batch takes
        the union's types first: generations may store one Spark type two
        ways (zone-aware and naive timestamps), and the values stay."""
        plan_json, part = planned
        union = pa.schema(part.fields)
        yield from _encode_stream(
            (b.cast(union) for b in _read_padded(part)),
            EncodePlan.from_json(plan_json),
            np.array([], dtype=np.int64),
            key_col,
            payload_dir,
            chunk_rows,
            max_buffer_bytes,
            cluster_cols=cluster_by,
            sort_units_at_flush=True,
        )

    run_id = "compact-" + uuid.uuid4().hex[:12]
    new_frags = _collect_tasks(spark, parts, rewrite, FRAG_PA_SCHEMA)

    # the new generation drops exactly the (unit, run_id) pairs the
    # targets were read from: non-target units carry over verbatim, and
    # in-flight runs' young uncommitted rows (even of target units) and
    # rows committed since the read outlive the rewrite
    publish_generation(output_dir, run_id, new_frags, drop=slices, batch_tag="compact")

    report["slices_after"] = new_frags.num_rows
    report["bytes_after"] = pc.sum(new_frags.column("bytes_out")).as_py() or 0
    report["manifest_rewritten"] = True
    return report
