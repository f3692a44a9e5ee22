"""SparkSession factory with scale-aware defaults.

The test/bench environment is ``local[N]`` (single JVM), but every
config below is chosen so the same plans hold on a 1000-executor
cluster reading ~100 TB:

* AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition
  counts at scale.
* ``spark.sql.shuffle.partitions`` defaults to the local core count
  (the driver harness exports ``SPARK_GRAFT_CPUS``); on a real
  cluster AQE coalesces from ``initialPartitionNum`` anyway.
* Arrow enabled for every pandas interchange (Pandas UDFs,
  ``toPandas``) — the LLM-ops modules rely on vectorized batches.
* The whole-stage codegen cache holds :data:`CODEGEN_CACHE_ENTRIES`
  generated classes, a few times one working set. Measured on a
  4-vCPU ``local[4]`` host: one cold SGP build compiles 260-300
  classes, the builds of both leagues together about 290, the serving
  set-up about 90. Spark's default of 100 entries evicts a build's own
  classes before the next build, so every warm build compiled its
  ~290 classes again in Janino and the JIT compiled them once more
  (much of a warm build's CPU); with this cache a warm build compiles
  0-18. It is a static conf: it takes effect only when set before the
  first ``getOrCreate`` of the process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: generated classes kept by Spark's codegen cache (see module docstring)
CODEGEN_CACHE_ENTRIES = 1024


def _cpus() -> int:
    """SPARK_GRAFT_CPUS if set to a positive int, else 0 (= fall back
    to os.cpu_count()). NB: must return 0 when unset — clamping the
    default to 1 here once silently pinned every session to local[1]
    on a 32-core machine."""
    try:
        v = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        return v if v > 0 else 0
    except ValueError:
        return 0


def get_spark(app_name: str = "dbt-lakehouse-aws-spark", *, master: str | None = None) -> SparkSession:
    """Build (or return) the process-wide SparkSession.

    Idempotent: Spark returns the active session if one exists, so
    tests, bench.py and the driver harness can all call this freely.
    """
    cpus = _cpus() or (os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_parts = str(max(cpus, 8))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # --- Arrow for all pandas interchange (Pandas UDFs, toPandas) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan behavior: pruning + pushdown are load-bearing ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet uses TIMESTAMP(NANOS): read as int64
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # session timezone pinned so timestamp semantics match the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # catalog tables (incl. bucketed) land outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        # quieter local runs
        .config("spark.ui.enabled", "false")
        # Heap sized to the task-slot count (guide §5: memory per
        # CONCURRENT task, not per machine): local[32] means 32 tasks
        # share execution memory, and the driver additionally holds
        # every broadcast relation (threshold raised to 64 MB above).
        # 8g gave ~150 MB execution memory per slot and let dead
        # broadcasts accumulate between full GCs — measured as
        # progressive degradation across a long bench session (run-3
        # spikes up to 6x on broadcast-heavy queries). 1 GB/slot is
        # the floor of the standard cluster sizing; still < 1/3 of
        # the 128 GiB sandbox. Override via SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(8, cpus)}g"),
        )
        # Long-lived sessions running MANY jobs (a bench pass, a real
        # multi-tenant driver) otherwise free localCheckpoint blocks,
        # broadcasts, and shuffle files only when a JVM full GC
        # happens to run; the cleaner's default periodic GC is 30 min
        # — longer than an entire bench session. 2 min bounds the
        # garbage window without measurable overhead.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
