import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import universal_parquet_exporter_spark  # noqa: F401  (Arrow pool, zip-import caching)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from universal_parquet_exporter_spark.sources.session import build_session

    s = build_session(app_name="upes-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


def _spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the Spark jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _broadcasts(monkeypatch, fn) -> int:
    """Number of ``SparkContext.broadcast`` calls ``fn()`` makes."""
    from pyspark import SparkContext

    calls = []
    real = SparkContext.broadcast

    def counting(self, value):
        calls.append(value)
        return real(self, value)

    with monkeypatch.context() as m:
        m.setattr(SparkContext, "broadcast", counting)
        fn()
    return len(calls)


def _sql_executions(spark, fn) -> int:
    """Number of SQL executions ``fn()`` runs: how far the newest
    execution id in the session's SQL status store moves, read once the
    listener bus has drained.  Ids only grow, while the store's count
    stops at ``spark.sql.ui.retainedExecutions``."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def newest() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        last = store.executionsList().lastOption()
        return last.get().executionId() if last.isDefined() else -1

    before = newest()
    fn()
    return newest() - before


def _kept_chunks(spark, out: str, terms) -> list:
    """Chunks the scan planner keeps for the conjunction ``terms``, each
    value read as ``decode_dataset`` reads it."""
    from universal_parquet_exporter_spark.encode import meta, scan

    man = meta._committed_manifest(out)
    probe = meta._probe_chunk_schema(out, man)
    parts = scan.plan_partitions(out, man, probe, None, scan._pruning_groups(spark, [terms], probe))
    return [ch for p in parts for ch in p.chunks]
