"""SparkSession construction — the engine's analog of the reference's
connection layer (``/root/reference/src/database/mysql_connection.py:6-22``,
``sqlserver_connection.py:9-27``): one configured session object instead of
DB-API connections.

Defaults are scale-oriented: AQE on (runtime skew-join splitting and
partition coalescing), Arrow transfer on (all our UDFs are vectorized),
shuffle partitions sized to the local core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "universal-parquet-exporter-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build a local[n] session; on a real cluster the same confs apply and
    ``master`` is supplied by spark-submit (BASELINE.md launch mode).
    An explicit ``master`` overrides the default ``local[n]`` — e.g.
    ``local-cluster[4,2,6144]`` for separate-executor-JVM topology (the
    shape bench.py's scaling pair uses)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    task_slots = int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(task_slots, 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # keep glibc from mmap-thrashing in Python workers: fresh large
        # allocations cost 10-100x more than reused ones on
        # fault-expensive kernels (glibc reads these at process start)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483647")
        # pyarrow's default jemalloc pool ignores mallopt and mmaps every
        # large batch — catastrophic on fault-expensive kernels; the
        # system pool routes through the tuned glibc malloc instead
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        # cap JVM background threads (GC/JIT default to one per core):
        # on preemption-expensive kernels they steal cycles from the
        # Python encode workers.  Set on BOTH driver and executor so a
        # real cluster's executor JVMs get the caps too.  Caveat: JVM
        # options and driver.memory only take effect when this builder
        # actually launches the JVM — getOrCreate() after a prior
        # session in the same process reuses the first JVM's settings
        # (bench.py's sequential sessions share one JVM by design; set
        # them via spark-submit/env to override per-process).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2 -XX:CICompilerCount=2",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2 -XX:CICompilerCount=2",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{task_slots}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_workers(spark: SparkSession, cpus: int, mb_per_worker: int = 48) -> None:
    """Touch every Python worker once: import the engine, compile/load the
    native kernels, and fault-in a modest working set.  On fault-expensive
    kernels the first big allocation in a fresh worker costs seconds;
    steady-state throughput (the thing a 1000-executor job lives in) needs
    warm arenas.  Kept deliberately small — on these kernels the fault-in
    itself is so slow that an oversized warmup costs more wall time than
    it ever saves."""

    def gen(iterator):
        import numpy as np
        import pyarrow as pa

        from ..codecs import fsst_encode, fsst_train

        scratch = np.zeros((mb_per_worker << 20) // 8, dtype=np.int64)
        scratch[::512] = 1  # fault-in
        sample = (b"warm up the symbol table builder " * 64)[:2048]
        tbl = fsst_train(sample)
        fsst_encode(sample * 16, tbl)
        for batch in iterator:
            yield pa.RecordBatch.from_pydict({"id": batch.column(0)})

    spark.range(cpus * 2, numPartitions=cpus * 2).mapInArrow(gen, "id long").count()
