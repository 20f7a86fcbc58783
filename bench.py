#!/usr/bin/env python3
"""Benchmark harness (driver contract): runs the headline encode job and
every driver-contract query at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "encode": {...}, "scaling": {...}}

Extra keys: ``encode`` (GB/s + compressed-size ratio vs the Parquet/Snappy
control — BASELINE.md rows 1-2) and ``scaling`` (the same encode job at
each SCALE_PAIRS executor pair — primary 1 vs 4, corroboration 2 vs 8 —
in ``local-cluster`` separate-JVM topology on identical input;
efficiency = (gbps_4N/gbps_N)/4 on medians — BASELINE.md row 4; the
block also carries the no-framework control's per-process rate table
that justifies gating on the small pair).  Set
SPARK_GRAFT_BENCH_SKIP_SCALING=1 to skip the scaling legs.

Query timings use a ``noop``-format write as the action: ``count()``
lets Catalyst prune projection expressions entirely (verified:
``select(md5(text)).count()`` optimizes to ``Aggregate [count(1)] ←
Project[] ← Scan``), so projection-only queries would measure scan
speed, not expression cost.  The noop sink evaluates every output
column and discards the rows JVM-side.  Each query runs twice (round
4): ``queries`` holds the second, WARM pass — steady-state operator
cost — and ``queries_cold`` the first pass, whose extra cost is
suite-order-dependent kernel fault/JIT overhead, not operator cost
(measured 13x on one subplan, BENCH/ngram_ab_r4.json).

Scaling topology (round 3): each leg is a fresh pinned subprocess
running ``local-cluster[n_exec,1,4096]`` — real separate executor JVMs,
the shape the north rule's "N vs 4N executors" means.  The driver JVM
(and this Python process) is pinned to its own dedicated cores in BOTH
legs, like a real cluster's driver node; executor JVMs (and the Python
workers they fork) are pinned to the leg's executor cores.  Payload
output goes to tmpfs: on a real cluster 4N nodes bring 4N disks, so the
one shared virtio disk here would measure storage contention, not the
engine (measured: the no-framework control's 8→32 efficiency is 0.28 on
the shared disk vs 0.45 on tmpfs; at 1→4 procs tmpfs the host delivers
0.85).  Per-leg samples are reported in full with BOTH best and median;
``efficiency`` reads the median.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import universal_parquet_exporter_spark  # noqa: F401  (Arrow pool, zip-import caching)
from universal_parquet_exporter_spark.sources.session import build_session, warm_workers

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
ROWS_PER_SF = 6_000_000  # webpages fixture rows per unit scale factor (~10 GB arrow/SF)
REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# scaling pairs: N executors vs 4N executors, one core + one task slot
# each, identical per-executor shape — only the executor COUNT scales,
# which is what "add nodes" means.  16 map tasks = even waves at every
# leg (16×1, 8×2, 4×4, 2×8) with identical per-task work.  The primary
# gate pair is (1, 4); (2, 8) corroborates that the result is not an
# artifact of the smallest pair (the host's memory subsystem throttles
# wider legs — see the control table emitted with the results).
SCALE_PAIRS = [(1, 4), (2, 8)]
SCALE_EXEC_N, SCALE_EXEC_4N = SCALE_PAIRS[0]
SCALE_N_MAP = 16
DRIVER_CORES = 4  # dedicated driver "node" cores, same in every leg


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """(warm, cold) per-query wall seconds.

    Each query runs twice back-to-back; the SECOND (warm) pass is the
    headline `queries` figure — operator cost in a long-running session —
    and the first-pass times ship beside it as `queries_cold`.  Measured
    (BENCH/ngram_ab_r4.json): on this fault-expensive kernel the first
    execution of a heavy shape pays page-fault/JIT cost unrelated to the
    operator (ngram prefix subplan 18.7 s cold vs 1.46 s warm), and which
    query pays it depends on SUITE ORDER — r2→r3 'regressions' were
    order artifacts.  Warm-vs-cold is reported, never hidden."""
    import __spark_entry__ as em

    warm: dict[str, float] = {}
    cold: dict[str, float] = {}
    spark.range(10).count()  # session warmup outside any timing
    for name, fn in em.queries().items():
        for target in (cold, warm):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink: full expression evaluation, rows discarded JVM-side
            df.write.format("noop").mode("overwrite").save()
            target[name] = round(time.perf_counter() - t0, 4)
    return warm, cold


def encode_bench(
    spark,
    input_parquet: str,
    workdir: str,
    label: str,
    target_unit_bytes: int = 64 << 20,
    map_tasks: int | None = None,
) -> dict:
    from universal_parquet_exporter_spark.encode.pipeline import (
        EncodeJobConfig,
        encode_parquet_job,
    )

    out = os.path.join(workdir, f"enc_{label}")
    cfg = EncodeJobConfig(output_dir=out, target_unit_bytes=target_unit_bytes, map_tasks=map_tasks)
    t0 = time.perf_counter()
    metrics = encode_parquet_job(spark, input_parquet, cfg)
    wall = time.perf_counter() - t0
    # headline throughput over the encode stage (assign→shuffle→encode→sink);
    # planning + lineage are O(1) driver bookkeeping reported via wall_sec
    gbps = metrics["bytes_in"] / metrics["encode_stage_sec"] / 1e9
    return {
        "wall_sec": round(wall, 3),
        "stage_sec": metrics["encode_stage_sec"],
        "bytes_in": metrics["bytes_in"],
        "bytes_out": metrics["bytes_out"],
        "ratio": round(metrics["ratio"], 4),
        "gbps": round(gbps, 4),
        "units": metrics["encoded_units"],
        "rows": metrics["rows"],
        "output_dir": out,
    }


def host_capacity(procs: int) -> float:
    """Total pure-CPU work rate available to `procs` concurrent processes
    (multiprocessing burn, zero framework), measured IMMEDIATELY BEFORE
    each timed rep under the same core pinning.  This sandbox's host is
    shared and its deliverable capacity swings on sub-minute timescales,
    so each rep records the capacity the host was offering right then; on
    a real cluster 4N executors bring 4x the hardware and this control is
    a constant."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        out = p.map(_burn, [2.0] * procs)
    return float(sum(out))


def _burn(sec: float) -> int:
    t_end = time.perf_counter() + sec
    x = 0
    n = 0
    while time.perf_counter() < t_end:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 1
    return n


def host_bandwidth(procs: int) -> float:
    """Total MEMORY-COPY rate (GB/s) available to `procs` concurrent
    processes right now — the probe the encode workload actually
    resembles.  The pure-CPU `_burn` probe stays flat through this
    host's multi-minute memory-delivery dips (measured: gbps swung 2.2x
    across reps whose `_burn` capacity moved <25%), so each timed sample
    records both; the bandwidth figure is what explains slow samples."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        out = p.map(_bwburn, [1.5] * procs)
    return float(sum(out))


def _bwburn(sec: float) -> float:
    import numpy as np

    a = np.ones(8 << 20, dtype=np.int64)  # 64 MB
    b = np.empty_like(a)
    b[:] = a  # first-touch outside the timed window
    t0 = time.perf_counter()
    t_end = t0 + sec
    n = 0
    while time.perf_counter() < t_end:
        b[:] = a
        n += 1
    return n * a.nbytes * 2 / (time.perf_counter() - t0) / 1e9  # rd+wr


def _find_pids(pattern: str) -> list[int]:
    import glob

    out = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if pattern in cmd:
            out.append(int(p.split("/")[2]))
    return out


def _pin_cluster_jvms(n_exec: int, exec_cores: set, driver_cores: set, timeout_sec: float = 20.0) -> None:
    """Pin each local-cluster JVM to its role's cores: executor JVMs (and
    the Python workers they fork) to the executor cores, the driver JVM
    (which also hosts the master/worker RPC envs) to the driver cores —
    a real cluster's driver node is separate hardware.  Executor
    registration is asynchronous, so wait until all n_exec executor
    processes exist (bounded); pin failures on a vanished pid skip that
    pid only."""
    me = os.getpid()
    deadline = time.time() + timeout_sec
    execs: list[int] = []
    while time.time() < deadline:
        drv = [p for p in _find_pids("org.apache.spark.deploy.SparkSubmit") if p != me]
        execs = [
            p for p in _find_pids("CoarseGrainedExecutorBackend")
            if p not in drv and p != me
        ]
        if len(execs) >= n_exec:
            break
        time.sleep(0.25)
    for p in execs:
        try:
            os.sched_setaffinity(p, exec_cores)
        except OSError:
            pass
    for p in drv:
        try:
            os.sched_setaffinity(p, driver_cores)
        except OSError:
            pass
    try:
        os.sched_setaffinity(me, driver_cores)
    except OSError:
        pass


def _preread(input_parquet: str) -> None:
    """Fault the input parquet into page cache so the first reader (the
    no-framework control) isn't charged for cold-disk reads the later
    readers don't pay."""
    for fn in sorted(os.listdir(input_parquet)):
        if fn.endswith(".parquet"):
            with open(os.path.join(input_parquet, fn), "rb") as f:
                while f.read(16 << 20):
                    pass


def _run_scale_leg_subprocess(
    mode: str,
    n_exec: int,
    input_parquet: str,
    warm_parquet: str,
    workdir: str,
    n_map: int,
    label: str,
    n_samples: int,
    with_decode: bool,
    warm_real: bool = False,
) -> dict:
    """Run one scaling rep in a fresh pinned subprocess and parse its
    LEGJSON result line."""
    import subprocess

    cmd = [
        sys.executable, os.path.abspath(__file__), "--scale-leg",
        mode, str(n_exec), input_parquet, warm_parquet, workdir, str(n_map),
        label, str(n_samples),
    ]
    if with_decode:
        cmd.append("--decode")
    if warm_real:
        cmd.append("--warm-real")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1200)
    for line in proc.stdout.splitlines():
        if line.startswith("LEGJSON "):
            return json.loads(line[len("LEGJSON "):])
    raise RuntimeError(
        f"scale leg {label} produced no result (rc={proc.returncode}): "
        f"{proc.stderr[-2000:]}"
    )


def queries_main(argv: list[str]) -> None:
    """Subprocess entry: run the driver-contract query suite and exit,
    so the bench parent never owns a JVM before the headline legs (same
    parent-depression effect the scaling legs avoid)."""
    sf_dir = argv[0]
    spark = build_session(app_name="upes-bench-queries", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, CPUS)
    warm, cold = run_queries(spark, sf_dir)
    spark.stop()
    print("QJSON " + json.dumps({"warm": warm, "cold": cold}))


def gen_fixture_main(argv: list[str]) -> None:
    """Subprocess entry: generate the webpages fixtures and exit, so the
    bench parent never owns a JVM before the scaling legs run (a parent
    that has run a 32-core session measurably depresses subsequent
    pinned Spark legs on this kernel even after spark.stop())."""
    scale_rows, n_files = int(argv[0]), int(argv[1])
    input_parquet, warm_parquet = argv[2], argv[3]
    quarter_parquet = argv[4] if len(argv) > 4 else None
    from universal_parquet_exporter_spark.fixtures import generate_webpages

    spark = build_session(app_name="upes-bench-gen", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    generate_webpages(spark, scale_rows, partitions=n_files).write.mode("overwrite").parquet(
        input_parquet
    )
    generate_webpages(spark, max(scale_rows // 16, 5000), partitions=8).write.mode(
        "overwrite"
    ).parquet(warm_parquet)
    if quarter_parquet:
        # weak-scaling 1× leg: a quarter of the rows over a quarter of
        # the files, so split size (files per task) matches the 4× leg
        generate_webpages(spark, scale_rows // 4, partitions=n_files // 4).write.mode(
            "overwrite"
        ).parquet(quarter_parquet)
    spark.stop()
    print("GENOK")


def scale_leg_main(argv: list[str]) -> None:
    """Subprocess entry for one leg.

    mode "lc":    local-cluster[n_exec,1,4096] — separate executor JVMs
                  pinned to the leg's executor cores; the driver JVM and
                  this Python process pinned to DRIVER_CORES dedicated
                  cores (the "driver node", identical in both legs).
    mode "local": local[n] whole-process pin (the 32-core headline
                  figure, round-2 protocol).

    Order inside the subprocess: pin → pre-read input (page cache) →
    no-framework mp control (no JVM yet: a resident JVM measurably
    halves a spawned pool on this fault-expensive kernel) → session →
    warm-up → n_samples × [sync → capacity probe → timed encode]."""
    mode = argv[0]
    n_exec = int(argv[1])
    input_parquet, warm_parquet, workdir = argv[2], argv[3], argv[4]
    n_map = int(argv[5])
    label = argv[6]
    n_samples = int(argv[7])
    with_decode = "--decode" in argv[8:]
    # headline (disk-payload) legs warm on the REAL input: the first
    # encode over a cold input pays page-cache fill + payload writeback
    # setup that depressed its sample ~5x (measured 0.13 vs 0.64); the
    # tmpfs scaling legs show no such cold-first effect (their mp control
    # already faulted the input) and skip the extra pass
    warm_real = "--warm-real" in argv[8:]
    sys.path.insert(0, os.path.join(REPO_DIR, "BENCH"))
    import mp_control

    host_n = os.cpu_count() or 8
    if mode == "lc":
        exec_cores = set(range(n_exec))  # 1 core per executor
        driver_cores = set(range(host_n - DRIVER_CORES, host_n))
        slots = n_exec
    else:
        exec_cores = set(range(n_exec))
        driver_cores = exec_cores
        slots = n_exec
    try:
        os.sched_setaffinity(0, exec_cores)
    except (AttributeError, OSError):
        pass
    _preread(input_parquet)
    os.sync()
    ctl = mp_control.run_control(input_parquet, slots, n_map, payload_dir_base=workdir)

    best = _timed_leg(
        mode, n_exec, input_parquet, warm_parquet, workdir, n_map, label,
        n_samples, with_decode, warm_real, exec_cores, driver_cores,
    )
    best["mp_control_gbps"] = ctl["gbps"]
    print("LEGJSON " + json.dumps(best))


def _timed_leg(
    mode: str,
    n_exec: int,
    input_parquet: str,
    warm_parquet: str,
    workdir: str,
    n_map: int,
    label: str,
    n_samples: int,
    with_decode: bool,
    warm_real: bool,
    exec_cores: set,
    driver_cores: set,
) -> dict:
    """Session + warm-up + n_samples timed encodes for one leg; returns
    the best-sample dict carrying all samples (LEGJSON shape, minus the
    mp control the caller attaches)."""
    slots = n_exec
    try:
        os.sched_setaffinity(0, exec_cores | driver_cores)
    except (AttributeError, OSError):
        pass
    os.environ["PYTHONPATH"] = REPO_DIR + ":" + os.environ.get("PYTHONPATH", "")
    if mode == "lc":
        spark = build_session(
            app_name=f"upes-scale-{label}",
            cpus=n_exec,
            master=f"local-cluster[{n_exec},1,4096]",
            extra_conf={
                "spark.executor.memory": "3g",
                "spark.executorEnv.PYTHONPATH": REPO_DIR,
            },
        )
        _pin_cluster_jvms(n_exec, exec_cores, driver_cores)
    else:
        spark = build_session(app_name=f"upes-scale-{label}", cpus=n_exec)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, slots)
    if mode == "lc":
        # re-pin after the first job: executor registration is
        # asynchronous, so a late-spawning executor JVM could have missed
        # the post-session pin — by now every executor has run tasks and
        # must exist (its Python daemon, forked at first task, inherits
        # the executor pin)
        _pin_cluster_jvms(n_exec, exec_cores, driver_cores)
    warm = encode_bench(spark, warm_parquet, workdir, f"warm_{label}", map_tasks=min(n_map, 8))
    shutil.rmtree(warm["output_dir"], ignore_errors=True)
    if warm_real:
        warm = encode_bench(spark, input_parquet, workdir, f"warmreal_{label}", map_tasks=n_map)
        shutil.rmtree(warm["output_dir"], ignore_errors=True)
    best = None
    samples = []
    caps = []
    bws = []
    for i in range(n_samples):
        os.sync()
        # probe the cores the timed work actually runs on: in lc mode
        # this process sits on the driver cores, so hop onto the executor
        # cores for the probe (forked burn children inherit) and back
        if mode == "lc":
            try:
                os.sched_setaffinity(0, exec_cores)
            except OSError:
                pass
        cap = host_capacity(slots)
        bw = host_bandwidth(slots)
        if mode == "lc":
            try:
                os.sched_setaffinity(0, driver_cores)
            except OSError:
                pass
        m = encode_bench(spark, input_parquet, workdir, f"{label}_{i}", map_tasks=n_map)
        m["host_capacity"] = round(cap, 1)
        m["host_bandwidth"] = round(bw, 2)
        samples.append(m["gbps"])
        caps.append(m["host_capacity"])
        bws.append(m["host_bandwidth"])
        if best is None or m["gbps"] > best["gbps"]:
            if best is not None:
                shutil.rmtree(best["output_dir"], ignore_errors=True)
            best = m
        else:
            shutil.rmtree(m["output_dir"], ignore_errors=True)
    best["gbps_samples"] = samples
    best["capacity_samples"] = caps
    best["bandwidth_samples"] = bws
    if with_decode:
        from universal_parquet_exporter_spark.encode.scan import decode_dataset

        # three passes — one cold + TWO warm (VERDICT r4 #3): the first
        # decode pays suite-order-dependent worker fault/JIT cost
        # (measured 0.17-0.30 GB/s cold vs 0.52-0.57 warm on identical
        # data at HEAD and at the pre-read-ahead revision alike, r4c
        # probe).  ``decode_gbps`` is the MEDIAN of the warm passes —
        # the cross-round comparable figure; all samples ship.
        dec_walls = []
        for _ in range(3):
            d0 = time.perf_counter()
            best["decode_rows"] = decode_dataset(spark, best["output_dir"]).count()
            dec_walls.append(time.perf_counter() - d0)
        best["decode_gbps_samples"] = [
            round(best["bytes_in"] / w / 1e9, 4) for w in dec_walls
        ]
        best["decode_gbps"] = round(
            best["bytes_in"] / statistics.median(dec_walls[1:]) / 1e9, 4
        )
        best["decode_gbps_cold"] = round(best["bytes_in"] / dec_walls[0] / 1e9, 4)
    shutil.rmtree(best.pop("output_dir"), ignore_errors=True)
    spark.stop()
    return best


def scale_pair_main(argv: list[str]) -> None:
    """Subprocess entry for one PAIRED scaling rep: both legs of an
    executor pair run back-to-back in this subprocess, so the host's
    multi-minute memory-delivery dips (the dominant noise at the short
    hi leg — measured: 8-executor samples swung 0.28-0.55 GB/s across
    subprocesses while the pure-CPU capacity probe moved <25% and the
    mp control, run minutes earlier in each subprocess, held ~0.6)
    depress BOTH legs of a rep together and cancel in the rep's
    efficiency ratio instead of biasing pooled per-leg medians taken in
    different windows.  A paired design is the standard estimator on a
    noisy shared host; each rep still ships its raw samples.

    argv: lo hi order(lohi|hilo) input warm workdir n_map label
          n_samples [--warm-real-hi]"""
    lo, hi = int(argv[0]), int(argv[1])
    order = argv[2]
    input_parquet, warm_parquet, workdir = argv[3], argv[4], argv[5]
    n_map = int(argv[6])
    label = argv[7]
    n_samples = int(argv[8])
    warm_real_hi = "--warm-real-hi" in argv[9:]
    sys.path.insert(0, os.path.join(REPO_DIR, "BENCH"))
    import mp_control

    host_n = os.cpu_count() or 8
    driver_cores = set(range(host_n - DRIVER_CORES, host_n))
    cores = {n: set(range(n)) for n in (lo, hi)}

    # both controls first, before any JVM exists in this process (a
    # resident JVM measurably halves a spawned pool on this kernel)
    ctl = {}
    for n in (lo, hi):
        try:
            os.sched_setaffinity(0, cores[n])
        except (AttributeError, OSError):
            pass
        if n == lo:
            _preread(input_parquet)
        os.sync()
        ctl[n] = mp_control.run_control(input_parquet, n, n_map, payload_dir_base=workdir)

    legs = {}
    seq = (lo, hi) if order == "lohi" else (hi, lo)
    for n in seq:
        legs[n] = _timed_leg(
            "lc", n, input_parquet, warm_parquet, workdir, n_map,
            f"{label}_x{n}", n_samples, with_decode=False,
            warm_real=(warm_real_hi and n == hi),
            exec_cores=cores[n], driver_cores=driver_cores,
        )
        legs[n]["mp_control_gbps"] = ctl[n]["gbps"]
        os.sync()
    print("PAIRJSON " + json.dumps({"lo": legs[lo], "hi": legs[hi], "order": order}))


def data_scale_main(argv: list[str]) -> None:
    """Subprocess entry for the WEAK-scaling rep (VERDICT r4 #7):
    constant width — n_exec separate executor JVMs — encoding 1× vs 4×
    input, all legs inside ONE subprocess and ONE session so the host's
    memory-delivery dips hit each round's pair together and cancel in
    that round's ratio.  This asks the 100-TB question directly — does
    wall grow linearly with data on a fixed cluster? — and is immune to
    the width-dependent memory-bandwidth knee that depresses the wide
    2→8 strong-scaling pair (see the control per-proc table).  Per-task
    work is IDENTICAL across legs (1× runs n_map/4 tasks of the same
    split size), so efficiency = gbps(4×)/gbps(1×) = 4·T(1×)/T(4×);
    linear walls ⇔ ratio ≈ 1, gate ≥ 0.8.

    argv: n_exec quarter_parquet full_parquet warm_parquet workdir label rounds"""
    n_exec = int(argv[0])
    quarter, full, warm_pq, workdir, label = argv[1], argv[2], argv[3], argv[4], argv[5]
    rounds = int(argv[6])
    host_n = os.cpu_count() or 8
    exec_cores = set(range(n_exec))
    driver_cores = set(range(host_n - DRIVER_CORES, host_n))
    try:
        os.sched_setaffinity(0, exec_cores | driver_cores)
    except (AttributeError, OSError):
        pass
    _preread(quarter)
    _preread(full)
    os.sync()
    spark = build_session(
        app_name=f"upes-weak-{label}",
        cpus=n_exec,
        master=f"local-cluster[{n_exec},1,4096]",
        extra_conf={
            "spark.executor.memory": "3g",
            "spark.executorEnv.PYTHONPATH": REPO_DIR,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, n_exec)
    _pin_cluster_jvms(n_exec, exec_cores, driver_cores)
    # warm-up: small fixture, then one real pass over EACH timed input
    # (page cache + payload writeback setup, same rationale as the
    # headline legs — an unwarmed 1× leg ran ~30% low in the first
    # round's ratio, inflating the paired efficiency)
    for wp, nm in (
        (warm_pq, min(SCALE_N_MAP, 8)),
        (quarter, SCALE_N_MAP // 4),
        (full, SCALE_N_MAP),
    ):
        w = encode_bench(spark, wp, workdir, f"{label}_warm{nm}", map_tasks=nm)
        shutil.rmtree(w["output_dir"], ignore_errors=True)
    legs: dict[str, list] = {"1x": [], "4x": []}
    paired = []
    for r in range(rounds):
        seq = [("1x", quarter, SCALE_N_MAP // 4), ("4x", full, SCALE_N_MAP)]
        if r % 2:
            seq.reverse()  # alternate inner order across rounds
        round_g: dict[str, float] = {}
        for tag, path, nm in seq:
            os.sync()
            m = encode_bench(spark, path, workdir, f"{label}_{tag}_r{r}", map_tasks=nm)
            shutil.rmtree(m["output_dir"], ignore_errors=True)
            legs[tag].append(m["gbps"])
            round_g[tag] = m["gbps"]
        if round_g["1x"]:
            paired.append(round(round_g["4x"] / round_g["1x"], 4))
    spark.stop()
    print(
        "WEAKJSON "
        + json.dumps(
            {
                "n_exec": n_exec,
                "n_map": {"1x": SCALE_N_MAP // 4, "4x": SCALE_N_MAP},
                "gbps_1x_samples": legs["1x"],
                "gbps_4x_samples": legs["4x"],
                "gbps_1x_median": round(statistics.median(legs["1x"]), 4),
                "gbps_4x_median": round(statistics.median(legs["4x"]), 4),
                "efficiency_weak_paired": paired,
                "efficiency_weak_median": round(statistics.median(paired), 4),
            }
        )
    )


def _run_data_scale_subprocess(
    n_exec: int,
    quarter_parquet: str,
    full_parquet: str,
    warm_parquet: str,
    workdir: str,
    label: str,
    rounds: int,
) -> dict:
    import subprocess

    cmd = [
        sys.executable, os.path.abspath(__file__), "--data-scale",
        str(n_exec), quarter_parquet, full_parquet, warm_parquet, workdir,
        label, str(rounds),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        if line.startswith("WEAKJSON "):
            return json.loads(line[len("WEAKJSON "):])
    raise RuntimeError(
        f"weak-scaling leg {label} produced no result (rc={proc.returncode}): "
        f"{proc.stderr[-2000:]}"
    )


def _run_scale_pair_subprocess(
    lo: int,
    hi: int,
    order: str,
    input_parquet: str,
    warm_parquet: str,
    workdir: str,
    n_map: int,
    label: str,
    n_samples: int,
    warm_real_hi: bool,
) -> dict:
    import subprocess

    cmd = [
        sys.executable, os.path.abspath(__file__), "--scale-pair",
        str(lo), str(hi), order, input_parquet, warm_parquet, workdir,
        str(n_map), label, str(n_samples),
    ]
    if warm_real_hi:
        cmd.append("--warm-real-hi")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        if line.startswith("PAIRJSON "):
            return json.loads(line[len("PAIRJSON "):])
    raise RuntimeError(
        f"scale pair {label} produced no result (rc={proc.returncode}): "
        f"{proc.stderr[-2000:]}"
    )


def _leg_summary(reps: list[dict]) -> dict:
    """Collapse a leg's subprocess reps: best sample + median over ALL
    samples (median is the primary estimator — best-of hides spread)."""
    out = dict(max(reps, key=lambda m: m["gbps"]))
    out["gbps_reps"] = [g for m in reps for g in m["gbps_samples"]]
    out["gbps_median"] = round(statistics.median(out["gbps_reps"]), 4)
    out["capacity_reps"] = [c for m in reps for c in m["capacity_samples"]]
    out["capacity_median"] = round(statistics.median(out["capacity_reps"]), 1)
    out["host_capacity"] = max(out["capacity_reps"])
    out["bandwidth_reps"] = [b for m in reps for b in m.get("bandwidth_samples", [])]
    if out["bandwidth_reps"]:
        out["bandwidth_median"] = round(statistics.median(out["bandwidth_reps"]), 2)
    out["mp_control_reps"] = [m["mp_control_gbps"] for m in reps]
    out["mp_control_gbps"] = max(out["mp_control_reps"])
    out["mp_control_median"] = round(statistics.median(out["mp_control_reps"]), 4)
    # decode ran in one designated rep; carry its figures even when a
    # different rep won on gbps
    for m in reps:
        for k in ("decode_rows", "decode_gbps", "decode_gbps_cold", "decode_gbps_samples"):
            if k in m and k not in out:
                out[k] = m[k]
    return out


def _pair_block(
    lo: dict, hi: dict, lo_n: int, hi_n: int, paired_effs: list[float] | None = None
) -> dict:
    """Scaling-evidence block for one (lo_n, hi_n) executor pair from two
    leg summaries.  ``efficiency`` (the gate figure) is the median of the
    PER-SAMPLE PAIRED efficiencies when the paired protocol ran (both
    legs back-to-back per subprocess; sample i of each leg forms one
    estimate, so a host dip depresses both members of a pair and cancels
    in its ratio, and the median over 2x2 estimates survives one bad
    sample); ``efficiency_pooled`` keeps the old cross-window
    pooled-median estimator beside it, and best-of is reported beside,
    never instead.  ``efficiency_vs_capacity``
    divides by the pure-CPU capacity ratio the host actually offered
    each leg; ``efficiency_vs_control`` divides by the no-framework
    multiprocessing control's own scaling — the host's practical
    ceiling — so ≈1.0 means the Spark job preserves the full speedup
    plain multiprocessing achieves in the same pinned windows."""
    factor = hi_n / lo_n
    pooled = (
        round((hi["gbps_median"] / lo["gbps_median"]) / factor, 4)
        if lo["gbps_median"] else None
    )
    block = {
        "executors_n": lo_n,
        "executors_4n": hi_n,
        "cores_n": lo_n,
        "cores_4n": hi_n,
        "gbps_n": lo["gbps"],
        "gbps_4n": hi["gbps"],
        "gbps_n_median": lo["gbps_median"],
        "gbps_4n_median": hi["gbps_median"],
        "gbps_n_reps": lo["gbps_reps"],
        "gbps_4n_reps": hi["gbps_reps"],
        "efficiency_pooled": pooled,
        "efficiency_best": round((hi["gbps"] / lo["gbps"]) / factor, 4)
        if lo["gbps"] else None,
        "capacity_n": lo["host_capacity"],
        "capacity_4n": hi["host_capacity"],
        "capacity_n_reps": lo["capacity_reps"],
        "capacity_4n_reps": hi["capacity_reps"],
        "efficiency_vs_capacity": (
            round(
                (hi["gbps_median"] / lo["gbps_median"])
                / (hi["capacity_median"] / lo["capacity_median"]),
                4,
            )
            if lo["gbps_median"] and lo["capacity_median"]
            else None
        ),
        "mp_control_gbps_n": lo["mp_control_gbps"],
        "mp_control_gbps_4n": hi["mp_control_gbps"],
        "mp_control_reps_n": lo["mp_control_reps"],
        "mp_control_reps_4n": hi["mp_control_reps"],
        "efficiency_mp_control": (
            round((hi["mp_control_median"] / lo["mp_control_median"]) / factor, 4)
            if lo["mp_control_median"]
            else None
        ),
        "efficiency_vs_control": (
            round(
                (hi["gbps_median"] / lo["gbps_median"])
                / (hi["mp_control_median"] / lo["mp_control_median"]),
                4,
            )
            if lo["gbps_median"] and lo["mp_control_median"]
            else None
        ),
    }
    if lo.get("bandwidth_reps"):
        block["bandwidth_n_reps"] = lo["bandwidth_reps"]
        block["bandwidth_4n_reps"] = hi["bandwidth_reps"]
    if paired_effs:
        block["efficiency"] = round(statistics.median(paired_effs), 4)
        block["efficiency_paired_reps"] = [round(e, 4) for e in paired_effs]
    else:
        block["efficiency"] = pooled
    return block


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    n_rows = max(int(ROWS_PER_SF * sf), 5000)
    workdir = tempfile.mkdtemp(prefix="upes_bench_")
    result: dict = {
        "metric": "bench suite wall sec (queries + encode @ sf)",
        "unit": "sec",
        "sf": sf,
    }
    total_t0 = time.perf_counter()
    try:
        # 1. the deterministic webpages fixture, generated in a SUBPROCESS
        # (this parent must not own a JVM before the scaling legs — a
        # parent that has run a 32-core session measurably depresses later
        # pinned Spark legs on this kernel, even stopped).  4× the
        # query-suite row count so the timed encodes dominate per-job
        # fixed costs (N scaling leg ~40 s, 4N ~10 s, 32-core headline
        # ~6 s).  224 files = a multiple of both task layouts (56 headline
        # tasks × 4 files, 16 scaling tasks × 14 files).
        import subprocess

        scale_rows = 4 * n_rows
        n_files = 224
        input_parquet = os.path.join(workdir, "webpages_in")
        warm_parquet = os.path.join(workdir, "webpages_warm")
        quarter_parquet = os.path.join(workdir, "webpages_quarter")
        gen = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--gen-fixture",
             str(scale_rows), str(n_files), input_parquet, warm_parquet,
             quarter_parquet],
            capture_output=True, text=True, timeout=900,
        )
        if "GENOK" not in gen.stdout:
            raise RuntimeError(f"fixture generation failed: {gen.stderr[-2000:]}")

        skip_scaling = bool(os.environ.get("SPARK_GRAFT_BENCH_SKIP_SCALING"))
        os.sync()  # drain fixture writeback before any timed leg

        # 2. scaling pair FIRST, from a JVM-free parent with a page cache
        # holding only the fixture: N=1 vs 4N=4 executors, local-cluster
        # separate JVMs, payload on tmpfs (per-node storage emulation —
        # see module doc).  Rep order [N,4N] twice — never the same leg
        # back-to-back (throughput decays across back-to-back runs while
        # capacity stays flat).  The 4N leg warms on the real input and
        # contributes 4 samples (its first cold sample ran ~10-15% low);
        # the N leg shows no cold-first effect and its samples are ±5%.
        scaling = {}
        if not skip_scaling:
            shm_base = "/dev/shm" if os.path.isdir("/dev/shm") else workdir
            shm_work = tempfile.mkdtemp(prefix="upes_scalebench_", dir=shm_base)
            try:
                # PAIRED protocol: each subprocess runs BOTH legs of one
                # executor pair back-to-back (controls first, then the
                # two sessions, inner leg order alternating across
                # rounds), so the host's multi-minute memory-delivery
                # dips hit both legs of a rep together and cancel in
                # that rep's efficiency ratio.  2 rounds × 2 samples per
                # leg = 4 samples/leg (same count as the old per-leg
                # protocol) + 2 paired efficiency estimates per pair.
                levels = [c for pair in SCALE_PAIRS for c in pair]
                rep_results: dict[int, list] = {c: [] for c in levels}
                paired_effs: dict[tuple, list] = {p: [] for p in SCALE_PAIRS}
                for r in range(2):
                    # alternate PAIR order and inner LEG order across
                    # rounds so slot-in-round effects (writeback from
                    # earlier subprocesses) spread across pairs and legs
                    pair_order = SCALE_PAIRS if r % 2 == 0 else SCALE_PAIRS[::-1]
                    inner = "lohi" if r % 2 == 0 else "hilo"
                    for a, b in pair_order:
                        pj = _run_scale_pair_subprocess(
                            a, b, inner, input_parquet, warm_parquet, shm_work,
                            SCALE_N_MAP, f"r{r}p{a}x{b}",
                            n_samples=2,
                            warm_real_hi=(b >= 4),
                        )
                        rep_results[a].append(pj["lo"])
                        rep_results[b].append(pj["hi"])
                        # per-SAMPLE pairing: sample i of each leg within
                        # this subprocess forms one efficiency estimate —
                        # 2 subprocesses × 2 samples = 4 estimates per
                        # pair, so the median survives one bad sample
                        # (a median over 2 subprocess-level ratios does
                        # not)
                        for ls, hs in zip(
                            pj["lo"]["gbps_samples"], pj["hi"]["gbps_samples"]
                        ):
                            if ls:
                                paired_effs[(a, b)].append((hs / ls) / (b / a))
                        os.sync()
                runs = {c: _leg_summary(rep_results[c]) for c in rep_results}
                # weak-scaling corroboration (VERDICT r4 #7): constant
                # width (the 4N executor count of the primary pair),
                # 1× vs 4× data, one subprocess, 3 alternating rounds
                weak = _run_data_scale_subprocess(
                    SCALE_EXEC_4N, quarter_parquet, input_parquet,
                    warm_parquet, shm_work, "weak", rounds=3,
                )
            finally:
                shutil.rmtree(shm_work, ignore_errors=True)

        # 3. driver-contract queries (noop-sink timed — see module doc),
        # in a subprocess so the parent stays JVM-free for the headline
        # legs too
        qproc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--queries", SF_DIR],
            capture_output=True, text=True, timeout=1200,
        )
        queries = None
        for line in qproc.stdout.splitlines():
            if line.startswith("QJSON "):
                queries = json.loads(line[len("QJSON "):])
        if queries is None:
            raise RuntimeError(f"query suite failed: {qproc.stderr[-2000:]}")
        os.sync()

        # 4. headline encode figure at all CPUS cores (local[n] pinned
        # subprocess, round-2 protocol, payload on the same disk as the
        # parquet control so size/throughput are apples-to-apples):
        # 2 subprocesses × (real-input warm pass + 2 timed samples),
        # decode check in the first.
        slots32 = CPUS - max(1, CPUS // 8) if CPUS >= 8 else CPUS
        n_map_headline = min(224, max(2 * slots32, 8))
        while 224 % n_map_headline:
            n_map_headline -= 1
        headline_reps = []
        for r in range(2):
            headline_reps.append(
                _run_scale_leg_subprocess(
                    "local", CPUS, input_parquet, warm_parquet, workdir,
                    n_map_headline, f"head_r{r}", n_samples=2, with_decode=(r == 0),
                    warm_real=True,
                )
            )
            os.sync()
        enc = _leg_summary(headline_reps)
        enc["decode_rows_ok"] = bool(
            next((m.get("decode_rows") for m in headline_reps if "decode_rows" in m), None)
            == scale_rows
        )
        enc.pop("decode_rows", None)
        enc["n_map"] = n_map_headline

        # 5. control last (it writes ~GBs to the shared disk): reference
        # encode path = parquet/snappy (A8,
        # /root/reference/src/export/parquet_writer.py:17), measured in
        # its own synced window so fixture writeback isn't charged to it
        spark = build_session(app_name="upes-bench-ctl", cpus=CPUS, shuffle_partitions=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        control_dir = os.path.join(workdir, "control")
        os.sync()
        c0 = time.perf_counter()
        spark.read.parquet(input_parquet).write.mode("overwrite").parquet(control_dir)
        control_wall = time.perf_counter() - c0
        control_bytes = sum(
            os.path.getsize(os.path.join(control_dir, f))
            for f in os.listdir(control_dir)
            if f.endswith(".parquet")
        )
        spark.stop()
        enc["control_bytes"] = control_bytes
        enc["control_wall_sec"] = round(control_wall, 3)
        enc["size_vs_control"] = round(enc["bytes_out"] / control_bytes, 4)

        if not skip_scaling:
            lo, hi = runs[SCALE_EXEC_N], runs[SCALE_EXEC_4N]
            # the top-level block IS the primary pair (duplicated under
            # pairs["1x4"] deliberately: top-level keys keep the
            # BENCH_r3-era shape consumers already read; pairs{} is the
            # uniform per-pair view).  primary_pair names the source of
            # truth for gate readers.
            scaling = _pair_block(
                lo, hi, SCALE_EXEC_N, SCALE_EXEC_4N,
                paired_effs=paired_effs.get(SCALE_PAIRS[0]),
            )
            scaling["primary_pair"] = f"{SCALE_EXEC_N}x{SCALE_EXEC_4N}"
            scaling["topology"] = (
                f"local-cluster[n,1,4096] — executor-JVM counts "
                f"{[p for p in SCALE_PAIRS]} (lo vs hi per pair), 1 core/1 slot "
                f"each, driver JVM on {DRIVER_CORES} dedicated cores in every "
                "leg, payload on tmpfs (per-node storage emulation)"
            )
            scaling["n_map"] = SCALE_N_MAP
            # corroboration pairs beyond the primary (VERDICT r3 #3), each
            # a self-contained block
            scaling["pairs"] = {
                f"{a}x{b}": _pair_block(
                    runs[a], runs[b], a, b, paired_effs=paired_effs.get((a, b))
                )
                for a, b in SCALE_PAIRS
            }
            # the evidence that justifies gating on the SMALL pair: the
            # no-framework control's per-process rate collapses as
            # concurrency grows (one shared memory controller on this
            # host; a real cluster's 4N nodes bring 4N memory channels).
            # Self-contained here per VERDICT r3 #8.
            scaling["control_per_proc_table"] = {
                str(c): {
                    "procs": c,
                    "mp_control_gbps_median": runs[c]["mp_control_median"],
                    "per_proc_gbps": round(runs[c]["mp_control_median"] / c, 4)
                    if runs[c]["mp_control_median"] else None,
                }
                for c in sorted(runs)
            }
            # weak-scaling leg: constant width, 1× vs 4× data — the
            # does-wall-grow-linearly-with-data question, immune to the
            # host's width-dependent bandwidth knee
            weak["criterion"] = (
                "constant width (4 executors), 1x vs 4x input, identical "
                "per-task splits; efficiency = gbps(4x)/gbps(1x) = "
                "4*T(1x)/T(4x); linear walls <=> ~1.0, gate >= 0.8"
            )
            scaling["weak_scaling"] = weak

        # headline per-query figures are the WARM pass (steady-state
        # operator cost); first-run times ship beside them — see
        # run_queries' docstring for the measured cold/warm attribution
        result["queries"] = queries["warm"]
        result["queries_cold"] = queries["cold"]
        result["encode"] = enc
        result["scaling"] = scaling
        result["value"] = round(time.perf_counter() - total_t0, 3)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-leg":
        scale_leg_main(sys.argv[2:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--scale-pair":
        scale_pair_main(sys.argv[2:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--data-scale":
        data_scale_main(sys.argv[2:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--gen-fixture":
        gen_fixture_main(sys.argv[2:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--queries":
        queries_main(sys.argv[2:])
    else:
        main()
