"""SparkSession factory with the engine's pinned configuration.

Every entry point (tests, bench, driver harness, spark-submit job) builds its
session here so the Arrow / AQE / shuffle settings that the design depends on
(SURVEY.md §2 UDF summary, §4) are identical everywhere.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(24g, ~40% of MemTotal) — AlwaysPreTouch commits Xms at startup,
    so an unconditional 24g would fail the JVM launch on smaller hosts."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, int(total_gb * 0.4)))}g"
    except OSError:
        pass
    return "4g"


#: Confs that matter for correctness or scale; applied at build time.
ENGINE_CONFS: dict[str, str] = {
    # Arrow batch transfer for every pandas/Arrow UDF (default-on in 4.x,
    # pinned explicitly per SURVEY.md §2).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime re-plan, skew-join splitting, post-shuffle coalesce.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics shared with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Keep executor-side Python workers reusable (Arrow socket reuse).
    "spark.python.worker.reuse": "true",
    # Reliable checkpoint()s (connected_components when a checkpoint dir is
    # set) are GC-cleaned by the ContextCleaner once their frames are
    # unreferenced — without this the per-round label checkpoints of every
    # near-dedup sweep accumulate on HDFS/S3 for the session's lifetime.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    "spark.ui.enabled": "false",
}

#: glibc tuning for the Python workers (inherited via fork from the JVM's
#: env): keep freed arenas mapped instead of mmap/munmap per Arrow batch —
#: every munmap means fresh page faults on the next batch, hitting the same
#: fault-storm pathology as the JVM heap.
WORKER_MALLOC_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    # One BLAS thread per Python worker: N workers each spawning BLAS
    # threads oversubscribes the host (this OpenBLAS build caps at 2, so
    # the worst case is 2x — still worth pinning).  Every kernel GEMM here
    # is small (Arrow batch x p<=64), where threading overhead loses anyway.
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


def _dynamic_confs() -> dict[str, str]:
    """Env-dependent confs, read at session-BUILD time, not import time —
    a harness that imports this module and only then sets the env var
    (in-process warm ladder, pytest) must still see it take effect.

    * SPARK_GRAFT_COALESCE=false — the warm-ladder protocol disables AQE
      post-shuffle coalesce: it otherwise coalesces to ragged 17/10-task
      stages on 8 cores (2-wave quantization, BENCH/BASELINE.md round 3).
    * SPARK_GRAFT_SHUFFLE — local-mode shuffle sizing; AQE coalesces down
      when partitions are tiny.
    """
    coalesce = os.environ.get("SPARK_GRAFT_COALESCE", "true").strip().lower()
    if coalesce not in ("true", "false"):
        # passed verbatim into a boolean Spark conf, where '0'/'off' would
        # otherwise surface as an opaque IllegalArgumentException at
        # session build (ADVICE r04)
        raise ValueError(
            f"SPARK_GRAFT_COALESCE must be 'true' or 'false' "
            f"(case-insensitive), got {os.environ['SPARK_GRAFT_COALESCE']!r}")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "32").strip()
    if not shuffle.isdigit() or int(shuffle) < 1:
        raise ValueError(
            f"SPARK_GRAFT_SHUFFLE must be a positive integer, got {shuffle!r}")
    # Driver memory is env-dependent too (SPARK_DRIVER_MEMORY / MemTotal),
    # so it belongs HERE, not in the import-time ENGINE_CONFS dict: a
    # harness that imports this module (pytest collection) and only then
    # sets SPARK_DRIVER_MEMORY would otherwise have its setting silently
    # ignored (round-5 review) — the one pattern this function's docstring
    # exists to prevent.
    #
    # Pre-fault the whole heap at JVM start (Xms=Xmx + AlwaysPreTouch).
    # Measured on this host: concurrent first-touch page faults collapse
    # ~50x under parallelism (memcpy microbench: 9.3 GB/s at 1 proc ->
    # 0.2 GB/s aggregate at 8 untouched-buffer procs; 52.6 GB/s once
    # pre-touched), which made local[32] runs SLOWER than local[8]
    # (175-592s vs 63s).  Pre-touching moves all heap faults to startup:
    # local[32] flagship 592s -> 61s.  Standard large-heap JVM practice on
    # real clusters too (set spark.executor.extraJavaOptions likewise).
    heap = _default_driver_memory()
    return {
        "spark.sql.adaptive.coalescePartitions.enabled": coalesce,
        "spark.sql.shuffle.partitions": shuffle,
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS",
            f"-Xms{heap} -XX:+AlwaysPreTouch"),
    }


def engine_confs() -> dict[str, str]:
    """The full engine conf set: static ENGINE_CONFS overlaid with the
    env-dependent confs read NOW, plus the ``spark.executorEnv.*``
    projection of WORKER_MALLOC_ENV.  Single source of truth for every
    entry point — the executorEnv entries used to be added only inside
    get_spark, so the spark-submit entry point (jobs/run_features.py)
    launched cluster executors WITHOUT the BLAS-thread pinning and malloc
    tuning (round-5 review: the exact fault-storm pathology these confs
    exist to prevent)."""
    return {**ENGINE_CONFS, **_dynamic_confs(),
            **{f"spark.executorEnv.{k}": v
               for k, v in WORKER_MALLOC_ENV.items()}}


def get_spark(app_name: str = "featureextraction_jl_spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine confs pinned.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). The bench harness passes ``local[8]`` / ``local[32]``
    explicitly to evidence the two-cluster-size scaling rule.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    for k, v in WORKER_MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in engine_confs().items():   # includes spark.executorEnv.*
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: the one model-broadcast cache: (applicationId, id(owner), key) -> the
#: Broadcast.  Entries leave when their owner is garbage-collected or when
#: a call comes from another application.
_BROADCASTS: dict = {}


def _drop_broadcast(k) -> None:
    bc = _BROADCASTS.pop(k, None)
    if bc is not None:
        try:
            # unpersist, NOT destroy: a still-pending lazy plan may use it;
            # unpersist frees the executor copies and the broadcast
            # re-ships from the driver if such a plan later runs
            bc.unpersist()
        except Exception:
            pass    # app shutting down; nothing to free


def broadcast_once(sc, owner, key, build):
    """``sc.broadcast(build())`` once per (application, ``owner``, ``key``).

    Serving paths that ship a fitted model (the windowed model map, the ANN
    centroids) call this per projection, so a loop over units or query
    batches reuses one broadcast instead of pinning a fresh copy per call.
    The cache keys by the owner's identity, never its bytes: a copy of the
    owner gets its own broadcast.  ``weakref.finalize`` drops and
    unpersists the entry when the owner is collected; entries of any other
    application (a stopped SparkContext) are dropped on every call."""
    app = sc.applicationId
    for k in [k for k in _BROADCASTS if k[0] != app]:
        _drop_broadcast(k)
    k = (app, id(owner), key)
    bc = _BROADCASTS.get(k)
    if bc is None:
        bc = _BROADCASTS[k] = sc.broadcast(build())
        weakref.finalize(owner, _drop_broadcast, k).atexit = False
    return bc
