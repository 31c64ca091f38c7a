"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
settings below are chosen so the same logical plans scale to a real
multi-executor cluster:

- AQE on (runtime join re-plan, partition coalescing, skew-join splitting)
  so the plans written here survive skew and 100x data growth without
  hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalescing makes the initial number mostly irrelevant.
- Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "leader_graph_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    cpus = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets max(shuffleBytes/parallelism,
        # minPartitionSize); the 1MB default floor collapses small-input
        # EXPANSION joins (15k rows in → 4.5M pairs out) onto 1-2 cores.
        # A 16KB floor lets parallelismFirst actually use every core
        # (measured 3-5× on the interval self-joins); at cluster scale
        # shuffles are GBs, the floor never binds, and the per-core cap
        # still prevents partition explosion.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage-codegen class cache. The 100-entry default thrashes
        # once a session runs ~9+ distinct multi-stage queries (each query
        # contributes several generated classes), so EVERY re-execution
        # recompiles evicted classes — measured 27% on the 9-query bench
        # set at sf0.1 (11.6s → 8.5s total; the flagship interval join
        # alone 1.53s → 0.86s). This cache is per-JVM and entries are
        # source-text-keyed generated classes (a few KB each); 5000
        # entries is noise next to executor heaps and removes the cliff
        # for any long-lived session running a mixed workload.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        # The events table has shipped ``ts`` as TIMESTAMP(NANOS), which
        # Spark reads only in this legacy mode (as BIGINT nanoseconds;
        # sources.tables converts it). Set once here so that loading a
        # table never changes session conf as a side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # No per-call call-site capture: with it on, every PySpark Column
        # or DataFrame call makes extra py4j round trips to record where
        # it was made (pyspark.errors.utils._with_origin). Measured over
        # 8 warm plan builds per lane on 4 cores (median), with the
        # distributed MinHash plan: driver Python CPU of the four
        # joins_dedup benchmark lanes' plan builds 0.257 → 0.105 s, the
        # MinHash plan build 0.45 → 0.28 s wall. PySpark reads the
        # setting once per process, from the first session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from this package's daemon, which drops the
        # worker's cached zipimporters before each task. Without it, the
        # importlib.invalidate_caches() pyspark calls per task makes every
        # one re-read its archive's directory: a reused worker holds 16,
        # for paths inside pyspark.zip (1,328 entries, 6-10 ms a read),
        # the py4j zip and the spark-core jar (5,359 entries, 24 ms). An
        # identity mapInPandas task over 2,000 rows cost 0.22 s of worker
        # CPU, 0.04 s with the drop (median of 6 warm runs, 4 cores,
        # CPython 3.11, pyspark 4.1.2). Every Python worker must
        # therefore import leader_graph_spark.
        .config("spark.python.daemon.module", "leader_graph_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # ContextCleaner backstop for one-shot localCheckpoints whose
        # RETURNED plans still reference them (edge sets under lazy
        # anti-joins, neighbor tables, kmeans vector states): those
        # can't be released explicitly, and the cleaner only notices
        # them after a driver GC — whose periodic trigger defaults to
        # 30 MINUTES, long enough for a bench/test session to pile up
        # dead blocks (the 30x second-decade battery OOM'd on exactly
        # this accumulation before the explicit _release discipline
        # landed; SCALE.md round-7). One System.gc() per minute is
        # noise next to query cost and bounds the residue. Iterative
        # loops do NOT rely on this — they release superseded rounds
        # explicitly (graph/algorithms._release). Overridable so the
        # bench can A/B the backstop against timing drift
        # (SPARK_GRAFT_PERIODIC_GC, e.g. "30min").
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
