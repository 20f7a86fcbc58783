"""Worker start-up cost: ``importlib.invalidate_caches()`` on zip imports.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task and DataSource planner call.  Importing the engine installs
``memtune.cache_zip_directories``, so a ``zipimporter`` whose archive is
unchanged on disk no longer re-reads the archive's directory.  The
allocator settings a worker needs come from the session instead
(``build_session``'s executor environment).
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest


def _count_reads(monkeypatch) -> list:
    """Count ``zipimport._read_directory`` calls from here on."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path: str, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"upes_zip_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("upes_zip_probe_a", "upes_zip_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    import upes_zip_probe_a

    assert upes_zip_probe_a.X == 1
    importlib.invalidate_caches()  # each importer's first call reads
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []


def test_rewritten_zip_is_reread(zip_on_path, monkeypatch):
    import upes_zip_probe_a  # noqa: F401

    importlib.invalidate_caches()
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"upes_zip_probe_a": "X = 1\n", "upes_zip_probe_b": "Y = 2\n"})
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(zip_on_path).st_size != st.st_size
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert zip_on_path in calls
    import upes_zip_probe_b

    assert upes_zip_probe_b.Y == 2


def test_missing_zip_falls_through_to_stdlib(zip_on_path, monkeypatch):
    import upes_zip_probe_a  # noqa: F401

    importlib.invalidate_caches()
    os.remove(zip_on_path)
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()  # the stdlib method drops the archive
    assert calls == [zip_on_path]
    assert sys.path_importer_cache[zip_on_path]._files == {}


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the stdlib re-read is lazy")
def test_install_is_idempotent():
    from universal_parquet_exporter_spark.memtune import cache_zip_directories

    assert cache_zip_directories()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_spark_worker_skips_the_reread(spark):
    """A Spark Python task that repeats pyspark's per-task call re-reads
    no zip directory the second time."""

    def probe(batches):
        import importlib
        import zipimport

        import universal_parquet_exporter_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({"reads": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "reads long").collect()
    assert [r.reads for r in rows] == [0]


def test_tasks_see_the_tuned_allocator_env(spark):
    """glibc's malloc thresholds and Arrow's memory pool reach every
    Python worker through the session's executor environment, without
    a package import: a task sees them in its own environment."""

    def env(_):
        import os

        keys = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "ARROW_DEFAULT_MEMORY_POOL")
        return [{k: os.environ.get(k) for k in keys}]

    seen = spark.sparkContext.parallelize([0], 1).mapPartitions(env).collect()
    assert seen == [
        {
            "MALLOC_MMAP_THRESHOLD_": "2147483647",
            "MALLOC_TRIM_THRESHOLD_": "2147483647",
            "ARROW_DEFAULT_MEMORY_POOL": "system",
        }
    ]
