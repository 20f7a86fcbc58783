"""The two workloads.  Each is a closed loop with one client: the next
operation starts when the previous one (and its correctness check) has
finished.  Every operation's output is checked; a wrong result or an
exception marks the operation failed and the loop goes on.

Each workload function generates its rows, sets up with ``warmup``
operations, runs the operations of its window, then writes the
Parquet/Snappy control of its rows.  It returns the end-to-end metric
values computed from the operations it timed.  Each operation's time is
its wall time less the share of the host's CPU time the hypervisor
stole meanwhile (README.md, "Stolen CPU time").
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa

import data
import engine
from spans import Tracer


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole host so far, in clock ticks
    summed over its CPUs (``/proc/stat``).  Stolen time is time the
    hypervisor ran another guest on one of this host's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def timed(fn):
    """Run ``fn()``; return its result, its wall seconds, and the share
    of the host's CPU time that was stolen meanwhile.  The benchmark
    takes ``wall * (1 - share)`` as the call's time: while another guest
    runs, every thread of this one stands still, so that is about the
    time the call would have taken on CPUs of its own."""
    busy0, steal0 = cpu_jiffies()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    busy1, steal1 = cpu_jiffies()
    busy, steal = busy1 - busy0, steal1 - steal0
    return out, wall, steal / (busy + steal) if busy + steal else 0.0


class Run:
    """State of one benchmark run, shared by a workload and the layer
    probes that follow it."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: float,
                 rows: int, trace: bool, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.quiet = Tracer(False)  # for correctness checks: never traced
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.rows = rows
        self.trace = trace
        self.session_s = session_s
        self.t0 = time.perf_counter()
        self.ops: list[dict] = []
        self.pairs = 0  # traced/untraced pairs run by ``measure``
        self.facts: dict = {}

    @property
    def setup_s(self) -> float:
        """Session start plus the engine time of the set-up operations;
        input generation and correctness checks are the benchmark's own
        work and are left out."""
        return self.session_s + sum(self.times("warmup"))

    def cycles(self, nominal_cycle_s: float) -> int:
        """Whole cycles of the workload's repeating mix of operations in
        the measured window: ``seconds / nominal_cycle_s``, at least one,
        where ``nominal_cycle_s`` is a cycle's warm cost on a 4-core host.
        A fixed count gives every run the same operations at the same
        place on the JVM's warm-up curve, so run medians compare like with
        like; a faster engine finishes the window sooner.  A traced run
        runs every operation twice (see ``measure``), so it makes half as
        many cycles and holds as many operations."""
        n = max(1, round(self.seconds / nominal_cycle_s))
        return max(1, n // 2) if self.trace else n

    def measure(self, kind: str, fn, check):
        """One operation of the measured window.  A traced run runs it
        twice in a row, once traced and once untraced, alternating which
        goes first, so the traced-minus-untraced difference compares the
        same operation on the same input."""
        if not self.trace:
            return self.attempt(kind, fn, check)
        first = self.pairs % 2 == 0
        self.pairs += 1
        for traced in (first, not first):
            self.tracer.enabled = traced
            out = self.attempt(kind, fn, check)
        self.tracer.enabled = True
        return out

    def attempt(self, kind: str, fn, check):
        """Time ``fn()`` as one operation, then check its result outside
        the timed region.  Returns the result, or None on an exception."""
        rec = {"kind": kind, "traced": self.tracer.enabled, "ok": False}
        self.ops.append(rec)
        out = None
        try:
            with self.tracer.span(f"bench:{kind}", op=self.tracer.new_op()):
                out, rec["wall_s"], rec["steal_share"] = timed(fn)
                rec["s"] = rec["wall_s"] * (1.0 - rec["steal_share"])
            rec["ok"] = bool(check(out))
            print(f"perfbench: {kind} {rec['s']:.3f} s {'ok' if rec['ok'] else 'WRONG RESULT'}"
                  f" (wall {rec['wall_s']:.3f} s, {100 * rec['steal_share']:.0f}% stolen)"
                  f" (at {time.perf_counter() - self.t0:.1f} s)",
                  file=sys.stderr, flush=True)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        return out

    def times(self, kind: str, traced: bool | None = None) -> list[float]:
        """Times (wall less the stolen share, see ``timed``) of the
        operations of ``kind`` that passed their check."""
        return [
            o["s"] for o in self.ops
            if o["kind"] == kind and o["ok"] and (traced is None or o["traced"] == traced)
        ]

    def verify_dataset(self, path: str, sources: list[pa.Table]) -> bool:
        """Decode the whole dataset on the driver through the reader and
        compare it with the source rows."""
        reader = engine.driver_reader(path)
        got = engine.read_partitions(self.quiet, reader, engine.plan_partitions(self.quiet, reader))
        return data.same_rows(got, pa.concat_tables(sources))

    def control(self, df) -> None:
        """The reference's encoder on the same rows: Spark's Parquet
        writer with its default Snappy codec."""
        out = f"{self.work}/control"
        with self.tracer.span("spark:parquet_control"):
            t0 = time.perf_counter()
            df.write.mode("overwrite").parquet(out)
            self.facts["control_s"] = time.perf_counter() - t0
        self.facts["control_bytes"] = sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
        )

    def size_vs_parquet(self) -> float:
        reader = engine.driver_reader(self.facts["dataset"])
        live = engine.live_payload_bytes(engine.plan_partitions(self.quiet, reader))
        return live / self.facts["control_bytes"]

    def encodes(self, kind: str, traced: bool | None = None) -> list[dict]:
        """Checked encode operations of ``kind``, each with the
        ``stage_s`` and ``bytes_in`` its check recorded."""
        return [
            o for o in self.ops
            if o["kind"] == kind and o["ok"] and "stage_s" in o
            and (traced is None or o["traced"] == traced)
        ]

    def check_encode(self, m: dict, path: str, sources: list[pa.Table]) -> bool:
        """Record the encode's own stage time on its operation (less the
        operation's stolen share, as for its wall time), then check the
        dataset it wrote."""
        op = self.ops[-1]
        op.update(stage_s=m["encode_stage_sec"] * (1.0 - op["steal_share"]), bytes_in=m["bytes_in"])
        return self.verify_dataset(path, sources)


# set-up operations before the window.  The first encode in a process
# pays the first Spark jobs and Python worker start-up (12-20 s measured
# on a 4-core host); the next one settles the JVM and the workers before
# operations run near their warm cost.
INGEST_WARMUPS = 2
# warm cost of one window cycle on a 4-core host (see Run.cycles)
ENCODE_S = 2.8
SCAN_CYCLE_S = 19.0


def _percentiles(vals: list[float]) -> tuple[float, float]:
    if not vals:  # every operation of the kind failed; `failed` reports it
        return math.nan, math.nan
    return float(np.percentile(vals, 50)), float(np.percentile(vals, 75))


def _ids(r: Run, start_offset: int, n: int) -> np.ndarray:
    start = data.first_id(r.seed) + start_offset
    return np.arange(start, start + n, dtype=np.int64)


# ---------------------------------------------------------------------------
# ingest: bulk encode, no decoding and no pruning
# ---------------------------------------------------------------------------


def ingest(r: Run) -> dict:
    src = data.webpages(_ids(r, 0, r.rows))
    inp = f"{r.work}/input"
    data.write_input(src, inp)
    r.facts.update(sources=[src], input_dir=inp)
    outs: list[str] = []

    def encode():
        # each encode writes a fresh dataset
        outs.append(f"{r.work}/enc-{len(outs)}")
        return engine.encode_parquet(r.tracer, r.spark, inp, outs[-1])

    def check(m) -> bool:
        ok = r.check_encode(m, outs[-1], [src])
        if ok:  # keep only the newest correct dataset
            for old in outs[:-1]:
                shutil.rmtree(old, ignore_errors=True)
            r.facts["dataset"] = outs[-1]
        return ok

    for _ in range(INGEST_WARMUPS):
        r.attempt("warmup", encode, check)
    for _ in range(r.cycles(ENCODE_S)):
        r.measure("encode", encode, check)
    r.control(r.spark.read.parquet(inp))

    def summary(traced=None):
        p50, p75 = _percentiles(r.times("encode", traced))
        stage = [o["stage_s"] for o in r.encodes("encode", traced)]
        # gbps is the encode stage's own throughput, the part of the call
        # the codecs work in; the percentiles time the whole call
        return {"op_p50_s": p50, "op_p75_s": p75, "gbps": src.nbytes / float(np.median(stage)) / 1e9}

    return {"summary": summary, "size_vs_parquet": r.size_vs_parquet()}


# ---------------------------------------------------------------------------
# scan: read-only, full scans (decode codecs) and selective scans (pruning)
# ---------------------------------------------------------------------------


PATHS = {True: "reader", False: "decode_dataset"}  # keyed by via_reader


def _scan_df(r: Run, path: str, via_reader: bool, terms=None):
    if via_reader:
        return engine.load(r.tracer, r.spark, path, data.spark_condition(terms) if terms else None)
    return engine.decode(r.tracer, r.spark, path, filters=terms)


def scan(r: Run) -> dict:
    src = data.webpages(_ids(r, 0, r.rows))
    # shuffled arrival order: the fixture's warc_ts rises with the row id,
    # so id order would cluster the dataset by time before cluster_by does
    arrival = src.take(pa.array(r.rng.permutation(src.num_rows)))
    inp = f"{r.work}/input"
    data.write_input(arrival, inp)
    path = f"{r.work}/dataset"
    r.facts.update(sources=[src], input_dir=inp, dataset=path)
    full_scans = []  # (op record, fingerprint): checked once the oracle is known

    def full_scan():
        return engine.run_fingerprint(r.tracer, _scan_df(r, path, True))

    def full_check(fp):
        full_scans.append((r.ops[-1], fp))
        return True

    def selective(via_reader: bool, terms):
        return lambda: engine.collect(r.tracer, _scan_df(r, path, via_reader, terms))

    def sel_check(terms):
        return lambda got: data.same_rows(got, data.expected([src], terms))

    r.attempt(
        "warmup",
        lambda: engine.encode_dataframe(r.tracer, r.spark, r.spark.read.parquet(inp), path, ("warc_ts",)),
        lambda m: r.check_encode(m, path, [src]),
    )
    # the first scans in a process pay JIT and the reader's planning
    # worker start-up: warm each kind of scan on its path
    r.attempt("warmup", full_scan, full_check)
    for via_reader in (True, False):
        terms = data.shape_terms("host_range", src, r.rng)
        r.attempt("warmup", selective(via_reader, terms), sel_check(terms))

    # a cycle runs every selective shape on both paths, with a full scan
    # through the reader before every other shape.  Full scans stay on
    # one path: the decode codecs they measure are the same on both
    for _ in range(r.cycles(SCAN_CYCLE_S)):
        for k, shape in enumerate(data.SHAPES):
            if k % 2 == 0:
                r.measure("full", full_scan, full_check)
            for via_reader in (True, False):
                terms = data.shape_terms(shape, src, r.rng)
                r.measure(f"selective.{PATHS[via_reader]}", selective(via_reader, terms), sel_check(terms))
    want_fp = data.fingerprint(r.spark.read.parquet(inp))
    r.facts["fingerprint"] = want_fp
    for rec, fp in full_scans:
        rec["ok"] = rec["ok"] and fp == want_fp
    r.control(r.spark.read.parquet(inp))

    def summary(traced=None):
        # the two paths differ in cost, so a statistic over their mixed
        # times would fall in the gap between them; each statistic is the
        # mean of the two paths' own
        sel = [_percentiles(r.times(f"selective.{p}", traced)) for p in PATHS.values()]
        return {"op_p50_s": float(np.mean([s[0] for s in sel])),
                "op_p75_s": float(np.mean([s[1] for s in sel])),
                "gbps": src.nbytes / float(np.median(r.times("full", traced))) / 1e9}

    return {"summary": summary, "size_vs_parquet": r.size_vs_parquet()}


WORKLOADS = {"ingest": ingest, "scan": scan}
