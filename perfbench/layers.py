"""Per-layer probes of a traced run.

They run after the workload's window, on the workload's own rows and
dataset, so every traced run reports every layer metric.  Which
end-to-end metric and workload each one should move is in README.md.
The codec replays run in this process on one core, the way one encode
or scan task runs them.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
import engine
from universal_parquet_exporter_spark.codecs.fsst import fsst_decode, fsst_encode, fsst_train
from universal_parquet_exporter_spark.encode import (
    decode_array,
    deserialize_chunk,
    encode_array,
    serialize_chunk,
)
from universal_parquet_exporter_spark.plans.partitioning import EncodePlan, assign_units_arrow

# an encode task trains one FSST table per string column from its first
# buffered rows; the fsst.* metrics cover the two long-text columns
STRING_COLUMNS = ("url", "html", "text", "lang")
FSST_COLUMNS = ("html", "text")
REPLAY_CHUNKS = 16
READ_PARTITIONS = 2


def _string_data(arr: pa.Array) -> bytes:
    """The value bytes of a (possibly sliced) string/binary array."""
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    return arr.buffers()[2].to_pybytes()[offs[0] : offs[-1]]


def codec_replay(tracer, src: pa.Table) -> dict:
    """Serialize and deserialize the workload's first chunks as an encode
    task would: FSST tables trained once, then shared by every chunk."""
    n = min(REPLAY_CHUNKS, max(1, src.num_rows // engine.CHUNK_ROWS))
    chunks = [src.slice(i * engine.CHUNK_ROWS, engine.CHUNK_ROWS) for i in range(n)]
    arrow_bytes = sum(c.nbytes for c in chunks)
    out: dict = {}
    with tracer.span("encode.container:serialize_chunk", chunks=n):
        t_start = time.perf_counter()
        tables = {}
        out["fsst.train_s"] = 0.0
        for c in STRING_COLUMNS:
            t0 = time.perf_counter()
            tables[c] = fsst_train(_string_data(chunks[0].column(c).combine_chunks())[:65536])
            if c in FSST_COLUMNS:
                out["fsst.train_s"] += time.perf_counter() - t0
        payloads = [serialize_chunk(c, tables)[0] for c in chunks]
        ser_s = time.perf_counter() - t_start
    with tracer.span("encode.container:deserialize_chunk", chunks=n):
        t0 = time.perf_counter()
        for p in payloads:
            deserialize_chunk(p)
        de_s = time.perf_counter() - t0
    out["container.serialize_gbps"] = arrow_bytes / ser_s / 1e9
    out["container.deserialize_gbps"] = arrow_bytes / de_s / 1e9
    out["serialize_s_per_byte"] = ser_s / arrow_bytes

    for name in data.COLUMNS:
        enc_s = dec_s = 0.0
        b_in = b_out = 0
        with tracer.span("encode.chunk:encode_array", column=name):
            for c in chunks:
                col = c.column(name)
                t0 = time.perf_counter()
                meta, bufs = encode_array(name, col, tables.get(name))
                t1 = time.perf_counter()
                decode_array(meta, bufs)
                t2 = time.perf_counter()
                enc_s += t1 - t0
                dec_s += t2 - t1
                b_in += col.nbytes
                b_out += sum(len(b) for b in bufs)
        out[f"chunk.encode_s.{name}"] = enc_s
        out[f"chunk.decode_s.{name}"] = dec_s
        out[f"chunk.ratio.{name}"] = b_out / b_in

    raw = enc_s = dec_s = 0.0
    with tracer.span("codecs.fsst:fsst_encode"):
        for name in FSST_COLUMNS:
            for c in chunks:
                buf = _string_data(c.column(name).combine_chunks())
                t0 = time.perf_counter()
                enc = fsst_encode(buf, tables[name])
                t1 = time.perf_counter()
                fsst_decode(enc, tables[name])
                t2 = time.perf_counter()
                raw += len(buf)
                enc_s += t1 - t0
                dec_s += t2 - t1
    out["fsst.encode_gbps"] = raw / enc_s / 1e9
    out["fsst.decode_gbps"] = raw / dec_s / 1e9
    return out


def _payload_dir_bytes(path: str) -> int:
    d = os.path.join(path, "payload")
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _manifest_size(path: str) -> tuple[int, int]:
    files = engine.manifest_files(path)
    return (
        sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        sum(os.path.getsize(f) for f in files),
    )


def _cold_plan(tracer, path: str, spelling: str):
    """Reader planning from a path spelling the planning cache has not
    seen, so the manifest is loaded as it must be after every commit."""
    reader = engine.driver_reader(os.path.join(path, spelling))
    return reader, engine.plan_partitions(tracer, reader)


def _no_output(_) -> bool:
    """Check of a probe whose result is a measurement, not an output."""
    return True


def _op_s(r) -> float:
    """Time of the run's latest operation, wall less the stolen share
    (0.0 if it raised)."""
    return r.ops[-1].get("s", 0.0)


def probe(r) -> dict:
    """Every per-layer metric for the run ``r`` (a ``workloads.Run``).
    Ends by appending to and compacting the workload's dataset.  Each
    call into the engine is a checked ``probe`` operation, so one that
    raises counts as failed and the probes go on; the metrics it would
    have given are then missing (``run.py`` reports them as 0)."""
    t = r.tracer
    sources = r.facts["sources"]
    src = pa.concat_tables(sources)
    path = r.facts["dataset"]
    m: dict = {"session.start_s": r.session_s}

    # encode pipeline: the window's encodes, else the set-up encode
    enc = r.encodes("encode") or r.encodes("warmup")
    m["pipeline.encode_call_s"] = statistics.median(e["s"] for e in enc)
    m["pipeline.encode_stage_s"] = statistics.median(e["stage_s"] for e in enc)
    m["pipeline.encode_overhead_s"] = statistics.median(e["s"] - e["stage_s"] for e in enc)

    replay = r.attempt("probe", lambda: codec_replay(t, src), _no_output)
    if replay:
        per_byte = replay.pop("serialize_s_per_byte")
        m.update(replay)
        # share of the encode stage's wall not explained by codec work
        # spread over every core: scheduling, Arrow transfer, sink and
        # stragglers
        bytes_in = statistics.median(e["bytes_in"] for e in enc)
        stage = m["pipeline.encode_stage_s"]
        m["pipeline.framework_share"] = 1.0 - (per_byte * bytes_in / engine.CORES) / stage

    def assign():
        with t.span("plans.partitioning:assign_units_arrow"):
            with open(os.path.join(path, "plan.json")) as f:
                plan = EncodePlan.from_json(f.read())
            url = src.column("url").combine_chunks()
            t0 = time.perf_counter()
            assign_units_arrow(url, plan)
            m["partitioning.assign_gbps"] = url.nbytes / (time.perf_counter() - t0) / 1e9

    r.attempt("probe", assign, _no_output)
    r.attempt(
        "probe",
        lambda: engine.build_plan(t, r.spark.read.parquet(r.facts["input_dir"]), f"{r.work}/plan-probe"),
        _no_output,
    )
    m["partitioning.plan_s"] = _op_s(r)

    # a key range and a time window: both unit and chunk pruning can fire.
    # The timed decode runs as the scan workload's do; the pruning
    # evidence (two extra manifest-only jobs) comes from a second call
    terms = data.shape_terms("host_range", src, r.rng) + data.shape_terms("lang_window", src, r.rng)[1:]
    timing: dict = {}

    def decode_op():
        t0 = time.perf_counter()
        df = engine.decode(t, r.spark, path, filters=terms)
        timing["plan"] = time.perf_counter() - t0
        return engine.collect(t, df)

    r.attempt("probe", decode_op, lambda got: data.same_rows(got, data.expected(sources, terms)))
    m["pipeline.decode_plan_s"] = timing.get("plan", 0.0)
    m["pipeline.decode_exec_s"] = _op_s(r) - m["pipeline.decode_plan_s"]
    ev: dict = {}
    r.attempt("probe", lambda: engine.decode(t, r.spark, path, filters=terms, pruning_evidence=ev), _no_output)
    manifest_rows, _ = _manifest_size(path)
    m["pipeline.units_read_frac"] = (
        ev["units_qualifying"] / ev["units_total"] if ev.get("units_total") else 1.0
    )
    # the evidence's chunk total counts only the chunks of the units
    # left after unit pruning; the share here is of every chunk slice in
    # the manifest, so it covers both pruning steps
    m["pipeline.chunks_read_frac"] = ev.get("qualifying", manifest_rows) / manifest_rows

    planned = r.attempt("probe", lambda: _cold_plan(t, path, "."), _no_output)
    m["datasource.plan_s"] = _op_s(r)
    if planned:
        reader, parts = planned
        m["datasource.chunks_planned"] = sum(len(p.chunks) for p in parts)
        m["datasource.payload_bytes_planned"] = engine.live_payload_bytes(parts)
        got = r.attempt("probe", lambda: engine.read_partitions(t, reader, parts[:READ_PARTITIONS]), _no_output)
        if got is not None:
            m["datasource.read_gbps"] = got.nbytes / _op_s(r) / 1e9

    # one small commit through the upe_encoded writer, then a read of it
    # (the first read after a commit always reloads the manifest)
    batch = data.webpages(data.first_id(r.seed) + src.num_rows + np.arange(max(100, r.rows // 32)))
    r.attempt("probe", lambda: engine.append(t, r.spark, batch, path), _no_output)
    m["datasource.append_s"] = _op_s(r)
    sources = sources + [batch]
    rows, nbytes = _manifest_size(path)
    r.attempt("probe", lambda: _cold_plan(t, path, "./."), _no_output)
    m["datasource.manifest_rows"] = rows
    m["datasource.manifest_bytes"] = nbytes
    m["datasource.plan_us_per_manifest_row"] = _op_s(r) * 1e6 / rows
    read_terms = data.shape_terms("url_in", batch, r.rng)
    r.attempt(
        "probe",
        lambda: engine.collect(t, engine.load(t, r.spark, path, data.spark_condition(read_terms))),
        lambda got: data.same_rows(got, data.expected(sources, read_terms)),
    )
    m["datasource.read_after_write_s"] = _op_s(r)

    r.attempt("probe", lambda: engine.compact(t, r.spark, path, dry_run=True), _no_output)
    m["compaction.select_s"] = _op_s(r)
    report = r.attempt(
        "probe",
        lambda: engine.compact(t, r.spark, path),
        lambda _: r.verify_dataset(path, sources),
    ) or {}
    m["compaction.compact_s"] = _op_s(r)
    m["compaction.slices_before"] = report.get("slices_before", 0)
    m["compaction.slices_after"] = report.get("slices_after", 0)
    m["compaction.bytes_rewritten"] = report.get("bytes_after", 0)

    planned = r.attempt("probe", lambda: _cold_plan(t, path, "././."), _no_output)
    written = _payload_dir_bytes(path)
    m["storage.write_amp"] = written / sum(s.nbytes for s in sources)
    if planned:
        m["storage.space_amp"] = written / engine.live_payload_bytes(planned[1])
    m["control.parquet_write_s"] = r.facts["control_s"]
    m["control.bytes"] = r.facts["control_bytes"]
    return m
