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
            "import universal_parquet_exporter_spark.encode.meta;"
            "import universal_parquet_exporter_spark.encode.stats;"
            "import universal_parquet_exporter_spark.encode.scan;"
            "import universal_parquet_exporter_spark.encode.pipeline;"
            "import universal_parquet_exporter_spark.encode.compaction;"
            "import universal_parquet_exporter_spark.encode.maintenance;"
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


def test_driver_queries_live_in_one_module():
    """Engine modules under ``encode/`` and ``sources/`` hold no driver
    query builders and no Spark-SQL reader of the zone-map JSON: every
    pruning guard reads the scan planner's own evidence through
    ``queries.require_pruned``, which checks the one layer the query
    certifies."""
    import pytest

    pkg = os.path.join(REPO, "universal_parquet_exporter_spark")
    hits = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg)
            engine = rel.split(os.sep)[0] in ("encode", "sources")
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if "get_json_object" in line or (engine and line.startswith("def q_")):
                        hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == []

    from universal_parquet_exporter_spark.queries import require_pruned

    with pytest.raises(RuntimeError, match="pruned nothing"):
        require_pruned({"total": 6, "qualifying": 6}, "zone maps", "slices")
    # each guard holds its own layer: pruned units do not stand in for
    # zone maps that pruned no slice, nor the reverse
    both = {"units_total": 4, "units_qualifying": 1, "total": 3, "qualifying": 3}
    with pytest.raises(RuntimeError, match="pruned nothing"):
        require_pruned(both, "zone maps", "slices")
    require_pruned(both, "key range", "units")
    with pytest.raises(RuntimeError, match="pruned nothing"):
        require_pruned({**both, "units_qualifying": 4, "qualifying": 1}, "key range", "units")
    with pytest.raises(RuntimeError, match="no units evidence"):
        require_pruned({"total": 6, "qualifying": 2}, "key range", "units")
    require_pruned({"total": 6, "qualifying": 2}, "zone maps", "slices")
    require_pruned({"total": 1, "qualifying": 1}, "one slice, nothing to prune", "slices")


def test_dataset_storage_has_one_path():
    """Every dataset file operation runs through the ``pyarrow.fs``
    filesystem that ``meta._payload_fs`` resolves, plain paths
    included: no ``fs is None`` POSIX branch, and no ``"://"`` test
    outside the resolver and the streaming writer's checkpoint-token
    hash (which names a Spark checkpoint, not a dataset file)."""
    import re

    pkg = os.path.join(REPO, "universal_parquet_exporter_spark")
    posix_branch = re.compile(r"\b(_?fs|f|self\._fs) is None\b")
    allowed = [
        ("encode/meta.py", 'if "://" in path:'),
        ("sources/spark_datasource.py", 'norm = ck if "://" in ck else os.path.abspath(ck)'),
    ]
    branches, scheme_tests = [], []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if posix_branch.search(line):
                        branches.append(f"{rel}:{i}: {line.strip()}")
                    if '"://"' in line:
                        scheme_tests.append((rel, line.strip()))
    assert branches == []
    for site in allowed:
        if site in scheme_tests:
            scheme_tests.remove(site)
    assert scheme_tests == []


def test_payload_decode_has_one_owner():
    """Only the scan module decodes payload chunks: compaction and every
    other engine module read payload through ``encode/scan.py``."""
    pkg = os.path.join(REPO, "universal_parquet_exporter_spark")
    callers = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if "deserialize_chunk(" in line and "def deserialize_chunk(" not in line:
                        callers.add(rel)
    assert callers == {"encode/scan.py"}


def test_metadata_formats_have_one_owner():
    """Each metadata format is known to one module: only ``encode/meta.py``
    joins the lineage path (every lineage read goes through its cached
    table), only ``encode/stats.py`` names the zone-map keys or parses
    the stats JSON, neither of the two imports the scan planner or the
    encode job, and the DataSource re-exports nothing.  Only
    ``encode/meta.py`` reads a metadata directory (no other module
    imports ``pyarrow.dataset`` or calls ``_read_meta_table``), swaps
    the manifest pointer or parses ``data_v<N>`` names: vacuum,
    compaction and the overwrite sink read the manifest through
    ``meta._read_manifest`` and publish through
    ``meta.publish_generation``."""
    import ast

    pkg = os.path.join(REPO, "universal_parquet_exporter_spark")
    lineage, zone_map = [], []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if '"lineage"' in line:
                        lineage.append(rel)
                    if '"_dv"' in line or '"_nc"' in line or (
                        "json.loads" in line and "stats" in line
                    ):
                        zone_map.append(rel)
    assert set(lineage) == {"encode/meta.py"}
    assert set(zone_map) == {"encode/stats.py"}

    for owner in ("meta", "stats"):
        with open(os.path.join(pkg, "encode", f"{owner}.py"), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        imported = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                imported.add((node.module or "").split(".")[-1])
                imported.update(a.name for a in node.names)
            elif isinstance(node, ast.Import):
                imported.update(a.name.split(".")[-1] for a in node.names)
        assert not imported & {"scan", "pipeline"}, (owner, imported)

    with open(os.path.join(pkg, "sources", "spark_datasource.py"), encoding="utf-8") as f:
        assert "noqa: F401" not in f.read()

    # the manifest too: no other module reads a metadata directory, swaps
    # the pointer or parses data_v<N> generation names
    owned = {"_read_meta_table", "set_manifest_dir"}
    found = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel == "encode/meta.py":
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            docs = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    hits = [a.name for a in node.names if a.name == "pyarrow.dataset"]
                elif isinstance(node, ast.ImportFrom):
                    mod = node.module or ""
                    hits = [a.name for a in node.names if a.name in owned]
                    if mod == "pyarrow.dataset" or (
                        mod == "pyarrow" and any(a.name == "dataset" for a in node.names)
                    ):
                        hits.append(mod)
                elif isinstance(node, ast.Name):
                    hits = [node.id] if node.id in owned else []
                elif isinstance(node, ast.Attribute):
                    hits = [node.attr] if node.attr in owned else []
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    is_gen = "data_v" in node.value or "(_v" in node.value
                    hits = [node.value] if is_gen and id(node) not in docs else []
                else:
                    hits = []
                found += [f"{rel}:{node.lineno}: {h}" for h in hits]
    assert found == []


def test_encode_plan_path_is_arrow_only():
    """The planner and the encode job never touch pandas: neither module
    imports it, and neither calls ``toPandas`` or ``to_pandas`` — both
    planners hand ``plan_from_sample`` an Arrow table."""
    import ast

    pkg = os.path.join(REPO, "universal_parquet_exporter_spark")
    found = []
    for rel in ("plans/partitioning.py", "encode/pipeline.py"):
        with open(os.path.join(pkg, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                hits = [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
            elif isinstance(node, ast.ImportFrom):
                hits = [node.module] if (node.module or "").split(".")[0] == "pandas" else []
            elif isinstance(node, ast.Attribute):
                hits = [node.attr] if node.attr in ("toPandas", "to_pandas") else []
            else:
                hits = []
            found += [f"{rel}:{node.lineno}: {h}" for h in hits]
    assert found == []


def test_sources_plan_without_a_session_or_pushed_filters():
    """Nothing under ``sources/`` calls ``getActiveSession`` or defines
    ``pushFilters``: a source's reader runs in Spark's planning worker,
    where no session exists, and Spark 4.1.2 reuses one query's pushed
    read plan for every later query on the same DataFrame."""
    import ast

    src = os.path.join(REPO, "universal_parquet_exporter_spark", "sources")
    found = []
    for name in sorted(os.listdir(src)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(src, name), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            called = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
            if called == "getActiveSession":
                found.append(f"{name}:{node.lineno}: getActiveSession")
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == "pushFilters":
                found.append(f"{name}:{node.lineno}: def pushFilters")
    assert found == []
