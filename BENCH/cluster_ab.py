#!/usr/bin/env python3
"""Write-time clustering A/B: plain vs cluster_by=("warc_ts",) encode of
the webpages fixture, then a narrow time-range filtered decode of both.

What it measures (one JSON line at the end):
  encode_plain / encode_clustered  — wall + gbps (the clustering tax:
      one extra range exchange + in-partition sort)
  size ratio clustered/plain       — bytes_out delta from re-ordered runs
  filtered decode on both          — wall + the pruning_evidence
      qualifying/total chunk counts: the read-side payoff the tax buys

Protocol: quarter-scale fixture (600k rows, ~0.97 GB Arrow), url-hash
repartition(32) as the arrival order for BOTH paths (warc_ts is monotone
in the fixture's row id, so contiguous-id order would be accidentally
pre-clustered and hide the effect), local[32], filter = the bottom 1/16
of the time range.  The clustered path uses the DataFrame encode_job
path (the shuffle pre-pass IS the feature); the plain path uses the
same DataFrame path so the A/B isolates cluster_by alone.

Usage: python BENCH/cluster_ab.py [repo_root]
"""
import json
import os
import sys
import tempfile
import time

repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/repo")
sys.path.insert(0, repo)
import universal_parquet_exporter_spark  # noqa: F401  (malloc tuning)
from universal_parquet_exporter_spark.sources.session import build_session, warm_workers
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset
from universal_parquet_exporter_spark.fixtures import generate_webpages

N_ROWS = 600_000
work = tempfile.mkdtemp(prefix="cluster_ab_")
spark = build_session(cpus=32)
warm_workers(spark, 32)

src = generate_webpages(spark, N_ROWS, partitions=32).repartition(32, "url")
src = src.localCheckpoint()  # freeze the arrival order outside the timing
lo, hi = src.selectExpr("min(warc_ts)", "max(warc_ts)").collect()[0]
cut = lo + (hi - lo) / 16

out = {}
for label, cluster in (("plain", ()), ("clustered", ("warc_ts",))):
    d = os.path.join(work, label)
    cfg = EncodeJobConfig(
        output_dir=d, target_unit_bytes=32 << 20, map_tasks=32, cluster_by=cluster
    )
    t0 = time.perf_counter()
    m = encode_job(spark, src, cfg)
    wall = time.perf_counter() - t0
    ev: dict = {}
    t1 = time.perf_counter()
    n = decode_dataset(spark, d, filters=[("warc_ts", "<=", cut)], pruning_evidence=ev).count()
    dec_wall = time.perf_counter() - t1
    # warm rep: the figure a steady-state reader sees
    t2 = time.perf_counter()
    n2 = decode_dataset(spark, d, filters=[("warc_ts", "<=", cut)]).count()
    dec_warm = time.perf_counter() - t2
    assert n == n2
    out[label] = {
        "encode_wall_sec": round(wall, 3),
        "encode_gbps": round(m["bytes_in"] / wall / 1e9, 4),
        "bytes_out": m["bytes_out"],
        "filtered_rows": n,
        "decode_wall_sec": round(dec_wall, 3),
        "decode_warm_sec": round(dec_warm, 3),
        "chunks_total": ev.get("total"),
        "chunks_qualifying": ev.get("qualifying"),
    }

out["size_ratio_clustered_vs_plain"] = round(
    out["clustered"]["bytes_out"] / out["plain"]["bytes_out"], 4
)
out["encode_tax"] = round(
    out["clustered"]["encode_wall_sec"] / out["plain"]["encode_wall_sec"], 3
)
out["decode_speedup_warm"] = round(
    out["plain"]["decode_warm_sec"] / out["clustered"]["decode_warm_sec"], 3
)
print(json.dumps(out))
spark.stop()
