"""Structured Streaming jobs over the ``events`` table.

The reference's streaming-shaped behavior is a producer/consumer thread
pipeline with incremental skip-processed reruns
(``processor/data_processor.py:64-316``, SURVEY.md §2.9). Here the same
shapes are Structured Streaming:

- the bounded work queue → micro-batch pipeline (``Trigger.AvailableNow``
  replays a landing table exactly once, checkpointed);
- incremental "only new" runs → checkpointed source offsets;
- the driver's ``events`` fixture adds true event-time operators the
  reference lacks: watermark + tumbling/sliding/session windows.

The tumbling aggregation has a batch twin in
``plans/streaming_queries.py`` whose oracle the driver checks; the
stream-equals-batch property is asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from leader_graph_spark.sources.tables import ts_parquet_unit

def _events_stream_schema(
    spark: SparkSession, probe_path: str, *, recursive: bool = False
) -> T.StructType:
    """Physical schema for the events landing files, via a one-time
    driver-side batch probe. The driver's parquet has shipped ``ts`` as
    both TIMESTAMP(NANOS) (reads as bigint under the nanosAsLong legacy
    conf, which :func:`session.get_spark` sets) and plain timestamp[us]
    with no timezone (reads as TIMESTAMP_NTZ) — the file-stream source
    needs an explicit schema, so it must match whichever variant is on
    disk."""
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(probe_path).schema


def _normalize_ts(sdf: DataFrame, probe_path: str | None = None) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP (LTZ): nanos-as-long converts via
    timestamp_micros; TIMESTAMP_NTZ casts (wall-clock identical under
    the UTC session zone, and watermarks/stateful ops REQUIRE the LTZ
    type — EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).

    A bigint ``ts`` is only converted after the parquet footer confirms
    the logical unit really is nanoseconds (``probe_path``); the driver's
    testdata has switched ts encodings between rounds, and a silent
    micros-as-nanos guess would be off by 1000×."""
    dt = dict(sdf.dtypes).get("ts")
    if dt == "bigint":
        if probe_path is not None:
            unit = ts_parquet_unit(_probe_file(probe_path))
            if unit != "ns":
                raise ValueError(
                    f"{probe_path}: ts read as bigint but parquet logical "
                    f"unit is {unit!r}, not 'ns' — testdata encoding changed"
                )
        return sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def _probe_file(path: str) -> str:
    """Resolve a landing path (file or directory) to one parquet file
    for footer probing. LOCAL-FILESYSTEM ONLY by design: the footer is
    read driver-side with pyarrow, which doesn't resolve hdfs://-style
    URIs — and the probe only fires for the driver-generated local
    testdata whose ``ts`` encoding it disambiguates."""
    import glob
    import os

    if os.path.isdir(path):
        matches = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if matches:
            return matches[0]
    return path


def path_is_dir(spark: SparkSession, path: str) -> bool:
    """Landing-shape probe that works on ANY Hadoop-supported
    filesystem (file://, hdfs://, s3a://…), not just local paths:
    resolves through the JVM ``FileSystem`` API, so an hdfs:// landing
    takes the directory branch instead of silently falling through to
    the single-file glob (which would list zero files there)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events landing file, timestamp-variant
    agnostic (see ``_events_stream_schema``)."""
    path = f"{sf_dir}/events.parquet"
    schema = _events_stream_schema(spark, path)
    if path_is_dir(spark, path):
        # Spark-written landing: events.parquet IS a directory of part
        # files — exactly what the file-stream source wants. (The glob
        # form below would list ZERO files here: pathGlobFilter matches
        # leaf files, not directories — caught by the 10x replica.)
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # Driver-generated landing: a single file; the file-stream
        # source requires a directory, so scan sf_dir with a glob
        # selecting just the events landing file.
        sdf = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return _normalize_ts(sdf, path)


def tumbling_counts(events: DataFrame, *, window: str = "1 hour") -> DataFrame:
    """Tumbling-window aggregate (batch or streaming input): per
    (window, event_type) count + DECIMAL value sum. With a streaming
    input, add ``with_watermark`` first."""
    return (
        events.groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_available_now(
    sdf: DataFrame, *, name: str, checkpoint: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink and return the final result table — the batch-replay
    mode the reference's incremental reruns map to. ``complete`` for
    aggregations; pass ``append`` for joins/projections."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def session_windows(events: DataFrame, *, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows (works for batch and streaming input):
    events closer than ``gap`` merge; the window end is last-event + gap.
    At scale this is Spark's native session_window state machine — no
    per-user collect."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator + micro-batch sink
# ---------------------------------------------------------------------------


def batch_id_partitioned_sink(out_dir: str):
    """The idempotent foreachBatch sink: partition by ``_batch_id`` and
    dynamically overwrite ONLY that partition, so an at-least-once
    replay (same batch_id after failure/restart) REPLACES its own
    output — including any partial files a mid-batch crash left behind
    — instead of appending duplicates. Factored out of
    :func:`run_foreach_batch_to_parquet` so the crash-recovery test
    can wrap it with an injected mid-batch failure."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return sink


def run_foreach_batch_to_parquet(
    sdf: DataFrame, *, out_dir: str, checkpoint: str, sink_wrapper=None
) -> None:
    """Micro-batch sink via foreachBatch — the consumer side of the
    reference's producer/consumer pipeline (``processor/data_processor.py:
    262-316``): each batch lands idempotently via
    :func:`batch_id_partitioned_sink` (exactly-once restored at the
    sink). ``sink_wrapper`` is a test seam: wraps the sink callable so
    crash-recovery tests can inject a mid-batch failure between the
    data write and the checkpoint commit."""
    sink = batch_id_partitioned_sink(out_dir)
    if sink_wrapper is not None:
        sink = sink_wrapper(sink)
    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def deduped_events_stream(
    spark: SparkSession, landing_dir: str, *, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming ingest dedup via ``dropDuplicatesWithinWatermark``:
    at-least-once landing (replayed files, producer retries — the
    reference's requeue-on-failure behavior, ``processor/
    data_processor.py:331-419``) becomes exactly-once downstream.

    State holds one key per event id seen within the watermark horizon
    and evicts beyond it — bounded by arrival rate × watermark, not by
    stream length (plain ``dropDuplicates`` on a stream would keep
    every key forever)."""
    schema = _events_stream_schema(spark, landing_dir, recursive=True)
    # recursiveFileLookup: staged copies may be parquet DIRECTORIES
    # (Spark-written landings), not just flat files.
    sdf = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(landing_dir)
    )
    return (
        _normalize_ts(sdf, landing_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
