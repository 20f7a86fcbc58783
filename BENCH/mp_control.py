"""No-framework scaling control: the IDENTICAL per-task encode work the
Spark job runs (pyarrow row-group read -> unit assign -> sort -> chunked
serialize -> payload-file write, via the very same ``_encode_stream``),
driven by plain ``multiprocessing`` with no JVM.

Purpose: separate "does the ENGINE scale?" from "does this shared host
deliver 4x the resources at 4x the cores?".  The pure-CPU ``host_capacity``
burn measures hypervisor CPU delivery only; this control additionally
exercises the same memory-bandwidth and I/O paths as the real job, so
``spark_speedup / control_speedup`` isolates the framework's own scaling
loss.  On a real 4N-executor cluster the control is a constant (4x nodes
bring 4x memory channels and disks).

Run standalone:  python BENCH/mp_control.py <input_parquet_dir> <procs> [n_map]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build_plan(items, total_rows, target_unit_bytes=64 << 20):
    """Deterministic plan from a local (no-Spark) sample of row groups —
    same planner tail as the pipeline (plan_from_sample)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from universal_parquet_exporter_spark.plans.partitioning import plan_from_sample

    pick = items[:: max(1, len(items) // 16)][:16]
    ks, szs = [], []
    for path, rg in pick:
        tbl = pq.ParquetFile(path).read_row_group(rg, columns=["url", "text", "html"], use_threads=False)
        stride = max(1, tbl.num_rows // 64)
        tbl = tbl.take(list(range(0, tbl.num_rows, stride)))
        sz = pc.add(
            pc.coalesce(pc.binary_length(tbl.column("text")), 0).cast("int64"),
            pc.coalesce(pc.binary_length(tbl.column("html")), 0).cast("int64"),
        )
        ks.extend(tbl.column("url").to_pylist())
        szs.extend(sz.to_pylist())
    sample = pa.table({"k": pa.array(ks, pa.string()), "sz": pa.array(szs, pa.int64())})
    return plan_from_sample(sample, total_rows, "url", target_unit_bytes)


def _warm(_):
    """Touch the imports + allocator arenas in a spawned worker so the
    timed map measures steady-state kernels, not interpreter startup."""
    import numpy as np

    import universal_parquet_exporter_spark  # noqa: F401  (malloc tuning)
    from universal_parquet_exporter_spark.codecs import fsst_encode, fsst_train

    scratch = np.zeros((24 << 20) // 8, dtype=np.int64)
    scratch[::512] = 1
    t = fsst_train(b"warm the symbol table builder " * 64)
    fsst_encode(b"warm" * 512, t)
    return 0


def _work(args):
    """One control task = one Spark map task's work, via the same
    _encode_stream generator the Spark job runs."""
    items, plan_json, payload_dir, chunk_rows = args
    import numpy as np
    import pyarrow.parquet as pq

    import universal_parquet_exporter_spark  # noqa: F401  (malloc tuning)
    from universal_parquet_exporter_spark.encode.pipeline import _encode_stream, _timestamps_to_us
    from universal_parquet_exporter_spark.plans.partitioning import EncodePlan

    plan = EncodePlan.from_json(plan_json)

    def batches():
        for path, rg in items:
            tbl = pq.ParquetFile(path).read_row_group(rg, use_threads=False)
            tbl = _timestamps_to_us(tbl)
            yield from tbl.to_batches(max_chunksize=65536)

    bytes_in = 0
    for manifest in _encode_stream(
        batches(), plan, np.empty(0, dtype=np.int64), "url", payload_dir, chunk_rows
    ):
        bytes_in += sum(manifest.column("bytes_in").to_pylist())
    return bytes_in


def run_control(
    input_dir: str,
    procs: int,
    n_map: int | None = None,
    chunk_rows: int = 32768,
    payload_dir_base: str | None = None,
) -> dict:
    """``payload_dir_base`` places the control's payload output on the
    same medium as the Spark legs' (bench passes the tmpfs workdir so
    control and engine write to identical storage)."""
    from universal_parquet_exporter_spark.encode.pipeline import _parquet_work_items

    items, total_rows = _parquet_work_items(input_dir)
    n_map = n_map or 2 * procs
    n_map = min(n_map, len(items))
    plan_json = _build_plan(items, total_rows).to_json()
    per = len(items) // n_map
    slices = [items[i * per : (i + 1) * per] for i in range(n_map - 1)] + [items[(n_map - 1) * per :]]
    payload_dir = tempfile.mkdtemp(prefix="upes_mpctl_", dir=payload_dir_base)
    try:
        # spawn, not fork: forking a large parent (e.g. one that imported
        # pyspark) makes every child's refcount write a copy-on-write
        # page fault — ~50x cost on this kernel, and it scales with the
        # child count, silently halving the 32-proc control.  Spawned
        # workers start clean; the warmup map absorbs their startup.
        with mp.get_context("spawn").Pool(procs) as pool:
            pool.map(_warm, range(procs), chunksize=1)
            t0 = time.perf_counter()
            totals = pool.map(
                _work, [(s, plan_json, payload_dir, chunk_rows) for s in slices], chunksize=1
            )
            wall = time.perf_counter() - t0
        bytes_in = int(sum(totals))
    finally:
        shutil.rmtree(payload_dir, ignore_errors=True)
    return {
        "procs": procs,
        "tasks": n_map,
        "wall_sec": round(wall, 3),
        "bytes_in": bytes_in,
        "gbps": round(bytes_in / wall / 1e9, 4),
    }


if __name__ == "__main__":
    input_dir = sys.argv[1]
    procs = int(sys.argv[2])
    n_map = int(sys.argv[3]) if len(sys.argv) > 3 else None
    print(json.dumps(run_control(input_dir, procs, n_map)))
