"""Packaging guard: the --py-files zip must be self-contained (BASELINE.md
launch mode).  Builds engine.zip and imports the engine from it in a
clean subprocess whose path excludes the repo."""

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_engine_zip_imports_standalone():
    from universal_parquet_exporter_spark.package import build_zip

    with tempfile.TemporaryDirectory() as d:
        zip_path = os.path.join(d, "engine.zip")
        build_zip(zip_path)
        probe = (
            "import sys;"
            f"sys.path = [p for p in sys.path if not p.startswith({REPO!r})];"
            f"sys.path.insert(0, {zip_path!r});"
            "import universal_parquet_exporter_spark as m;"
            "import universal_parquet_exporter_spark.encode.pipeline;"
            "import universal_parquet_exporter_spark.operators.relational;"
            "import __spark_entry__;"
            "assert m.__file__.startswith(sys.path[0]), m.__file__;"
            # --py-files mode: the engine's zip adds importers, and none of
            # them re-reads its directory on pyspark's per-task call
            "import importlib, zipimport;"
            "importlib.invalidate_caches();"
            "zips = [k for k, v in sys.path_importer_cache.items()"
            " if isinstance(v, zipimport.zipimporter)];"
            f"assert any(k.startswith({zip_path!r}) for k in zips), zips;"
            "reads = [];"
            "real = zipimport._read_directory;"
            "zipimport._read_directory = lambda a: reads.append(a) or real(a);"
            "importlib.invalidate_caches();"
            "assert reads == [], reads;"
            "print('zip-import-ok')"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True,
            text=True,
            timeout=120,
            cwd=d,  # not the repo: nothing importable by accident
        )
        assert out.returncode == 0, out.stderr
        assert "zip-import-ok" in out.stdout
