"""SparkSession factory with scale-aware defaults, and the bounded
session the SGP build runs in.

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
  generated classes. Spark's default of 100 entries evicted an SGP
  build's own ~290 classes before the next build, so every warm build
  compiled them again in Janino and the JIT compiled them once more
  (4-vCPU ``local[4]`` host; the serving set-up compiles about 90).
  The build now runs interpreted in the bounded session (below), so
  the cache serves the serving plane and the registered queries. It
  is a static conf: it takes effect only when set before the first
  ``getOrCreate`` of the process.

The bounded session. The SGP build reads about 1k projected players
and a few hundred standings rows: an instance bounded by its domain
(the player pool, the league's teams), not by ingest history, so the
strategy that suits it is not the one for 100 TB (*A Model for Query
Execution Over Heterogeneous Instances*, CIDR 2024).
:func:`bounded_session` gives it a child of the caller's session
(``newSession()``: same SparkContext and cached data, its own SQL
conf) set to :data:`BOUNDED_CONF`, built once per root session.
``cli.load_raw_sources`` reads through it, and a DataFrame carries
its session, so every model, lineage cut and mart write of a build
plans and runs under that conf. Serving, the registered queries and
the ACID board stay on the caller's session. Each key earns its
place (dropping it raised ``op_cpu_ms`` or the job count):

* ``spark.sql.codegen.factoryMode=NO_CODEGEN``: interpreted
  expressions, and Spark skips whole-stage codegen in this mode, so
  no Janino compiles to feed the JIT (most of a warm build's CPU was
  the JIT compiling Janino itself). An internal conf, so
  ``tests/test_sgp_pipeline.py`` pins its effect: no
  ``WholeStageCodegen`` node and no compile in a warm build.
* ``spark.sql.shuffle.partitions=1``: one task a shuffle stage
  (dropping it about doubled ``op_cpu_ms``).
* ``spark.sql.adaptive.enabled=false``: without AQE a lineage cut
  builds its RDD without running a job (with AQE the DAG ran 20).
* ``spark.sql.autoBroadcastJoinThreshold=-1``: a broadcast is a job
  of its own for a side that fits one partition anyway.

Measured on a 4-vCPU host, ``perfbench/run.py --workload sgp_build
--seconds 5``, 10 seeds, the build on the root session vs in the
bounded session, every run correct:
``op_cpu_ms`` median 18,950 → 14,235 ms (−24.9 %, 10 of 10 pairs),
``setup_s`` 21.4 → 16.6 s. Traced, seed 1: the DAG's jobs 20 → 0, the
three mart writes' 26 → 3 (stages 67 → 47).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: generated classes kept by Spark's codegen cache (see module docstring)
CODEGEN_CACHE_ENTRIES = 1024

#: SQL conf of the bounded-instance session (see module docstring)
BOUNDED_CONF = {
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

_bounded: weakref.WeakKeyDictionary[SparkSession, SparkSession] = weakref.WeakKeyDictionary()


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


def bounded_session(spark: SparkSession) -> SparkSession:
    """The bounded-instance child of ``spark``: same SparkContext and
    cached data, its own SQL conf (:data:`BOUNDED_CONF`). Built once
    per root session."""
    child = _bounded.get(spark)
    if child is None:
        child = spark.newSession()
        for key, value in BOUNDED_CONF.items():
            child.conf.set(key, value)
        _bounded[spark] = child
    return child


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
