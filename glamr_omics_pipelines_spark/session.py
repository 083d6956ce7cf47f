"""SparkSession bootstrap.

Local testing runs on ``local[N]`` but every default here is chosen for the
real target: a multi-executor cluster scanning ~100 TB of Parquet.

Scale rationale (per-config):
  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting is
    the single biggest win for 100 TB joins with skewed keys (sample/taxon
    hot spots are ubiquitous in omics abundance tables).
  - shuffle.partitions: a *starting* number; AQE coalesces down. On a cluster
    set ~2-3x total cores; locally 32 keeps sf0.1 partitions small enough to
    stay in memory.
  - autoBroadcastJoinThreshold: dimension tables (taxonomy ~2.4M rows,
    region/nation-style dims) must broadcast; 64 MB covers the NCBI taxonomy
    dimension while keeping the fact side shuffle-free.
  - Arrow enabled: every pandas_udf / applyInPandas operator (LCA, dada2-style
    grouped maps, multimodal decode) moves batches via Arrow, not pickled rows.
  - session timezone UTC: deterministic timestamp semantics across engines
    (the duckdb correctness oracle is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    # without this, a .persist() anywhere freezes its subtree at the static
    # shuffle-partition count — AQE can no longer coalesce tiny stages, which
    # multiplies per-stage latency on composed pipelines (dedup/LSH chains)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # explicit (Spark 4 default, but load-bearing): ANSI casts make
    # SchemaRegistry.conform genuinely cast-or-FAIL — a drifted load errors
    # instead of silently nulling, matching the reference's Postgres appends
    "spark.sql.ansi.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # 128 MB input splits: the Parquet scan granularity that keeps a 100 TB
    # table at ~800k tasks — large enough to amortize task overhead, small
    # enough that one partition always fits in executor memory.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # local[N] runs driver AND all executor threads in ONE JVM — size the heap
    # for the whole pipeline, not just the driver role (8g thrashes GC once a
    # few 600k-row shuffles + broadcasts accumulate; 32g is ~25% of the box).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
    # local mode: broadcast/shuffle blocks of finished jobs are only dropped
    # on driver GC; periodic GC keeps long benchmark sessions flat.
    "spark.cleaner.periodicGC.interval": "30s",
    "spark.ui.enabled": "false",
}


# glibc malloc tunables for every Python worker (and, in local mode, the
# whole JVM process tree): by default glibc mmap()s any allocation over
# 128 KB and munmap()s it on free, so EVERY large numpy temporary in a
# pandas/Arrow worker re-pays first-touch page faults on EVERY batch —
# measured on this box at ~0.25 s per fresh 512 MB versus 0.003 s re-touching
# resident pages (and far worse when the host is loaded). Raising the mmap
# threshold and disabling trim keeps a worker's large buffers resident across
# batches/tasks, so the fault cost is paid once per worker, not once per
# allocation (guide §4: heavyweight init once per task, not per row/batch).
# Fixed thresholds also disable glibc's dynamic adjustment, making worker
# performance deterministic. 256 MB covers every kernel buffer this library
# allocates (largest: single-task graph folds, ~20 MB per array).
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
}


def get_spark(app_name: str = "glamr-omics-spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) for the test
    environment; on a cluster, leave unset and let spark-submit decide.
    """
    # inherited by the JVM -> pyspark.daemon -> python workers in local mode;
    # spark.executorEnv.* below carries the same tunables to cluster executors
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    executor_env = {f"spark.executorEnv.{k}": v for k, v in _MALLOC_ENV.items()}
    for k, v in {**DEFAULT_CONFS, **executor_env,
                 **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release(spark: SparkSession) -> None:
    """Free what a query left materialized: the SQL cache, the operators'
    registered localCheckpoints (which ``clearCache`` cannot free) and
    their persist handles. Call it once results are collected or written,
    in a ``finally`` so a failing query frees them too."""
    from glamr_omics_pipelines_spark.operators import _cache, _ckpt
    spark.catalog.clearCache()
    _ckpt.release_checkpoints()
    _cache.release_caches()
