#!/usr/bin/env python3
"""Decode-throughput A/B: HEAD vs the pre-read-ahead revision (ccc480d).

Ran 2026-08-18 to attribute bench_sf0.1_r4c.json's decode_gbps=0.17
(one cold sample in a degraded host window).  Protocol: identical
quarter-scale fixture (600k rows / 0.97 GB Arrow), one encode, then
3 back-to-back `decode_dataset(...).count()` reps at local[32].

Measured (GB/s, reps in order — rep 0 is the cold pass):
  HEAD              0.277 / 0.565 / 0.524
  ccc480d (pre-RA)  0.304 / 0.466 / 0.569

Conclusion: statistically identical — the round's decode-path changes
(row-group read-ahead e02aa93, JVM range source 18c57da) cost nothing;
the archived 0.17 is single-sample cold+window noise.  bench.py now
reports decode warm beside cold (same split as the queries).

Usage: python BENCH/decode_ab.py <repo_root>   (run once per revision)
"""
import os, subprocess, sys, tempfile, time, shutil

repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/repo")
sys.path.insert(0, repo)
import universal_parquet_exporter_spark  # noqa: F401  (malloc tuning)
from universal_parquet_exporter_spark.sources.session import build_session, warm_workers
sys.path.insert(0, repo)
import bench

work = tempfile.mkdtemp(prefix="decode_ab_")
inp, warm = os.path.join(work, "in"), os.path.join(work, "warm")
subprocess.run([sys.executable, os.path.join(repo, "bench.py"),
                "--gen-fixture", "600000", "56", inp, warm], check=True)
spark = build_session(cpus=32)
warm_workers(spark, 32)
from universal_parquet_exporter_spark.encode.scan import decode_dataset
m = bench.encode_bench(spark, inp, work, "probe", map_tasks=56)
print("encode gbps:", m["gbps"], "bytes_in:", m["bytes_in"])
for i in range(3):
    t0 = time.perf_counter()
    n = decode_dataset(spark, m["output_dir"]).count()
    w = time.perf_counter() - t0
    print(f"decode rep {i}: rows={n} wall={w:.2f}s gbps={m['bytes_in']/w/1e9:.3f}")
spark.stop()
shutil.rmtree(work, ignore_errors=True)
