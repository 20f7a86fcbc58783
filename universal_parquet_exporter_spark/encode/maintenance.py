"""Maintenance sweep for encoded datasets: vacuum dead payload files and
orphan manifest rows.

The encode job's crash-safety design (see :mod:`.meta` module
docstring) deliberately leaves garbage instead of blocking on cleanup:

- a task attempt that ran but whose manifest rows never committed (job
  crash, speculative/retried attempt that lost) leaves a **dead payload
  file** — present in ``payload/`` but referenced by no committed
  manifest row;
- a run that crashed between the manifest commit and the lineage commit
  leaves **orphan manifest rows** — present in ``data/`` but whose
  ``(unit, run_id)`` has no ``status='ok'`` lineage row.  Decode already
  semi-joins them away; they only cost manifest-scan bytes.

Neither is ever read, but a long-running 100 TB table accumulates them
forever; :func:`vacuum` is the engine's analog of Iceberg's
``remove_orphan_files`` + ``rewrite_manifests`` maintenance actions (the
reference side-steps the problem with self-contained per-run output
dirs, ``/root/reference/examples/advanced_integration_example.py:37-51``).

Concurrency contract (same as Iceberg's): run vacuum while no encode
job is writing, **or** pass ``older_than_sec`` greater than the longest
possible in-flight job so a live task's payload file (written, not yet
committed) is never swept.  Production default should be hours-to-days;
0 is for tests and known-quiet tables.

The manifest is read through :func:`.meta._read_manifest` (its
``committed`` flag is the orphan test, its ``__file`` gives a row its
age) and rewritten through :func:`.meta.publish_generation`.

Scale notes: every set here is computed on the driver in Arrow, with
no Spark job — the manifest is metadata (fragment rows, not data).
The live-file set is one ``file`` value per committed task attempt,
bounded by total task count (~1.6 M for 100 TB at 64 MB units), a few
tens of MB.  The payload-dir listing is the same driver-side listing
Iceberg's action does.  Deletes fan out through the cluster above a small threshold so
the sweep is not bottlenecked on one filesystem client.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyarrow import fs as pafs

from .meta import (
    _generations,
    _list_dir,
    _mtime,
    _payload_fs,
    _read_manifest,
    _remove_files,
    manifest_dir,
    publish_generation,
)


def _delete_files(payload_dir: str, names: list[str], spark=None) -> None:
    """Delete payload files; fan out through the cluster for large sweeps
    so one filesystem client isn't the bottleneck."""
    if spark is not None and len(names) > 256:
        def rm(it):
            _remove_files(payload_dir, it)

        spark.sparkContext.parallelize(names, max(1, len(names) // 1024)).foreachPartition(rm)
        return
    _remove_files(payload_dir, names)


def _storage_now(output_dir: str) -> float:
    """'Now' on the STORAGE clock: write a marker file next to the
    dataset, read back its mtime, delete it.  ``older_than_sec`` horizons
    compare against storage mtimes, so anchoring now to the driver's
    ``time.time()`` silently erodes the 'never sweep an in-flight payload
    file' margin by however far the driver and storage clocks disagree —
    on object stores that skew is unbounded.  One marker round-trip pins
    the comparison to a single clock.  Falls back to driver time if the
    store exposes no mtime (then the horizon must also absorb worst-case
    skew — documented in :func:`vacuum`)."""
    fs, root = _payload_fs(output_dir)
    path = f"{root}/.vacuum_clock_probe"
    try:
        fs.create_dir(root, recursive=True)
        with fs.open_output_stream(path) as f:
            f.write(b"x")
        info = fs.get_file_info(path)
        fs.delete_file(path)
        if info.mtime is not None:
            return info.mtime.timestamp()
    except OSError:
        pass
    return time.time()


def _heal_interrupted_swap(data_dir: str) -> None:
    """Recover from a vacuum killed mid-swap.  States the two-rename
    swap can leave: (a) crash between the renames — ``data/`` missing,
    ``data.vacuum_old`` present: roll the old dir back; (b) crash before
    the first rename or after the second — stray ``.vacuum_tmp`` /
    ``.vacuum_old`` beside an intact ``data/``: delete the strays.
    Idempotent; called at every vacuum start."""
    fs, d = _payload_fs(data_dir)
    old, tmp = d + ".vacuum_old", d + ".vacuum_tmp"
    d_t = fs.get_file_info(d).type
    old_t = fs.get_file_info(old).type
    if d_t == pafs.FileType.NotFound and old_t == pafs.FileType.Directory:
        fs.move(old, d)
        old_t = pafs.FileType.NotFound
    if fs.get_file_info(d).type == pafs.FileType.Directory:
        if old_t == pafs.FileType.Directory:
            fs.delete_dir(old)
        if fs.get_file_info(tmp).type == pafs.FileType.Directory:
            fs.delete_dir(tmp)


def _sweep_retired_manifests(
    output_dir: str, current_dir: str, now: float, older_than_sec: float,
    dry_run: bool = False,
) -> int:
    """Delete manifest directories no longer referenced by the pointer —
    retired by a rewrite, or left by a rewrite that crashed before its
    pointer swap — once old enough that any reader which resolved them
    has had ``older_than_sec`` to finish.  Age is measured from the
    NEWEST of the pointer mtime (= last swap, when dirs retire) and the
    dir's own newest file (covers crashed unreferenced rewrites)."""
    cur_name = os.path.basename(current_dir.rstrip("/"))
    ptr_m = [_mtime(i) for n, i in _list_dir(output_dir).items() if n == "manifest_current"]
    fs, root = _payload_fs(output_dir)
    swept = 0
    for name, _version in _generations(output_dir):
        if name == cur_name:
            continue
        newest = max(
            map(_mtime, _list_dir(os.path.join(output_dir, name)).values()), default=0.0
        )
        if (now - max([newest, *ptr_m])) < older_than_sec:
            continue
        if not dry_run:
            fs.delete_dir(f"{root}/{name}")
        swept += 1
    return swept


def vacuum(
    spark,
    output_dir: str,
    *,
    older_than_sec: float = 0.0,
    rewrite_manifest: bool = True,
    dry_run: bool = False,
) -> dict:
    """Sweep an encoded dataset: delete payload files referenced by no
    committed manifest row, and (optionally) compact orphan manifest rows
    out of ``data/``.

    ``older_than_sec`` is the safety horizon applied to BOTH sweeps:
    payload files younger than it survive, and orphan manifest rows are
    only compacted out when the manifest part-file holding them is older
    than it — an in-flight run that has committed its manifest but not
    yet its lineage is exactly a young orphan, and dropping its rows
    would lose data it is about to commit.  ``rewrite_manifest``
    writes the orphan-free manifest to a NEW versioned directory
    (``data_v<N>``) and atomically swaps the ``manifest_current``
    pointer to it — the Iceberg version-hint pattern: a concurrent
    reader resolves either the old manifest (kept on disk) or the new
    one, both complete, and a crash mid-rewrite leaves the pointer on
    the old manifest with only an unreferenced new dir behind (swept
    later).  Retired manifest dirs are deleted by a LATER vacuum once
    the pointer is older than the horizon — guaranteeing every reader
    that resolved them has had ``older_than_sec`` to finish.
    ``dry_run`` reports without deleting.

    Returns counts + reclaimed bytes; decode results are unchanged by
    construction (only never-read data is touched — pytest-gated by a
    crash-mid-commit round trip in ``tests/test_maintenance.py``)."""
    data_dir = manifest_dir(output_dir)
    payload_dir = os.path.join(output_dir, "payload")
    # the horizon compares against STORAGE mtimes, so 'now' comes from the
    # storage clock (marker-file round trip) — driver/storage skew must
    # not erode the in-flight safety margin.  If the store exposes no
    # mtime, this falls back to driver time and older_than_sec must
    # exceed the longest in-flight job PLUS worst-case clock skew.
    now = _storage_now(output_dir)
    # heal pre-pointer two-rename leftovers (legacy layout upgrades)
    _heal_interrupted_swap(data_dir)
    # dry_run still COUNTS would-be-swept retired dirs (report without
    # deleting, same as every other counter)
    retired_swept = _sweep_retired_manifests(
        output_dir, data_dir, now, older_than_sec, dry_run=dry_run
    )

    manifest = _read_manifest(output_dir, orphans=True)
    if manifest is None:
        raise ValueError(f"no manifest or lineage under {output_dir}: not an encoded dataset")
    # per-part-file mtimes give orphan rows their age (each manifest
    # commit writes fresh part files, so file mtime ≈ that run's commit
    # time); rows in young part files are NEVER treated as orphans
    old_parts = pa.array(
        [n for n, i in _list_dir(data_dir).items() if (now - _mtime(i)) >= older_than_sec],
        pa.string(),
    )
    orphan = pc.and_(
        pc.invert(manifest["committed"]), pc.is_in(manifest["__file"], value_set=old_parts)
    )
    live = manifest.filter(pc.invert(orphan))
    orphan_rows = manifest.num_rows - live.num_rows

    # payload liveness: referenced by a committed row OR by any
    # uncommitted-but-young row (an in-flight run's files) — plus the
    # payload file's own mtime horizon, belt and braces
    keep_refs = set(pc.unique(live.column("file")).to_pylist())
    listed = _list_dir(payload_dir)
    dead = [
        (name, int(i.size))
        for name, i in listed.items()
        if (now - _mtime(i)) >= older_than_sec and name not in keep_refs
    ]
    reclaimed = sum(s for _, s in dead)
    if dead and not dry_run:
        _delete_files(payload_dir, [n for n, _ in dead], spark)

    rewrote = False
    if orphan_rows and rewrite_manifest and not dry_run:
        # a new generation without the orphans' (unit, run_id) pairs,
        # published by the pointer swap; the old dir stays on disk
        # (readers that already resolved it finish unharmed) and a later
        # horizoned vacuum deletes it
        publish_generation(
            output_dir, f"vacuum-{uuid.uuid4().hex[:12]}", drop=manifest.filter(orphan)
        )
        rewrote = True

    # stale temp files from crashed commits: plan.json.tmp* (planner) and
    # manifest_current.tmp* (pointer swap); a missing mtime protects the
    # file (an in-flight pointer swap's tmp must never be deleted from
    # under its move)
    stale_tmp = [
        name
        for name, i in _list_dir(output_dir).items()
        if name.startswith(("plan.json.tmp", "manifest_current.tmp"))
        and (now - _mtime(i)) >= older_than_sec
    ]
    if not dry_run:
        _remove_files(output_dir, stale_tmp)

    return {
        "payload_files": len(listed),
        "live_files": len(keep_refs),
        "deleted_files": len(dead),
        "reclaimed_bytes": int(reclaimed),
        "orphan_manifest_rows": orphan_rows,
        "manifest_rewritten": rewrote,
        "retired_manifest_dirs": retired_swept,
        "stale_plan_tmp": len(stale_tmp),
        "dry_run": dry_run,
    }
