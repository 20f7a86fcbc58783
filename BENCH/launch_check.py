"""spark-submit launch check (BASELINE.md launch mode).

Run as::

    python -m universal_parquet_exporter_spark.package engine.zip
    spark-submit --master 'local[8]' --py-files engine.zip BENCH/launch_check.py

The script only uses the engine through the ``--py-files`` zip (it must
NOT rely on the repo being on PYTHONPATH), runs a small end-to-end encode
+ decode round trip on a deterministic fixture, and prints one JSON line
``{"launch_check": "ok", ...}``.  On a real cluster the identical command
with ``--master yarn``/``k8s`` and an executor fleet is the deployment
path; local[8] proves the packaging.
"""

import json
import os
import shutil
import sys
import tempfile

# prove we run from the zip: drop the repo dir from sys.path when invoked
# via spark-submit from the repo root
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path = [p for p in sys.path if os.path.abspath(p or ".") != repo]

import universal_parquet_exporter_spark  # noqa: E402  (from the zip)
from universal_parquet_exporter_spark.encode.pipeline import EncodeJobConfig, encode_parquet_job
from universal_parquet_exporter_spark.encode.scan import decode_dataset  # noqa: E402
from universal_parquet_exporter_spark.fixtures import generate_webpages  # noqa: E402
from universal_parquet_exporter_spark.sources.session import build_session  # noqa: E402


def main() -> None:
    spark = build_session(app_name="upes-launch-check")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="upes_launch_")
    try:
        inp = os.path.join(workdir, "in")
        generate_webpages(spark, 20000, partitions=8).write.mode("overwrite").parquet(inp)
        cfg = EncodeJobConfig(output_dir=os.path.join(workdir, "enc"), target_unit_bytes=4 << 20)
        metrics = encode_parquet_job(spark, inp, cfg)
        dec_rows = decode_dataset(spark, cfg.output_dir).count()
        print(
            json.dumps(
                {
                    "launch_check": "ok" if dec_rows == 20000 else "FAIL",
                    "module_file": universal_parquet_exporter_spark.__file__,
                    "rows": dec_rows,
                    "units": metrics["encoded_units"],
                    "ratio": round(metrics["ratio"], 4),
                }
            )
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
