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

Every streaming aggregation here has a batch twin in
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


def tumbling_counts_stream(
    spark: SparkSession, sf_dir: str, *, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming variant with an event-time watermark bounding state:
    late rows beyond the watermark are dropped and finalized windows
    are evicted — the state never grows with input size."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return tumbling_counts(events, window=window)


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


def user_running_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running (count, value-sum) that persists across
    micro-batches — the streaming analog of the reference's
    per-consumer tallies (``processor/data_processor.py:72-79``).
    State is one small tuple per user — bounded by key cardinality,
    not input size."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


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


def click_purchase_join_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    watermark: str = "2 hours",
    range_: str = "1 hour",
    join_type: str = "inner",
    events: DataFrame | None = None,
) -> DataFrame:
    """Stream-stream join: each click joined to the same user's
    purchases in the preceding ``range_``. Both sides carry watermarks
    and the join condition bounds event-time distance, so the state
    store can evict rows older than watermark+range — the canonical
    bounded-state stream-stream join (without the time bound, state
    would grow forever). Batch twin: ``clicks_with_recent_purchase``.

    ``join_type="left_outer"`` keeps never-converted clicks: Spark
    holds an unmatched click in state until the watermark passes its
    join window, THEN emits it with nulls — so outer results are
    correct-but-late by construction, and a test draining a finite
    source must push the watermark past the data (a sentinel event) to
    flush the last unmatched rows (asserted in test_streaming).
    ``events`` overrides the source stream (custom landing dirs)."""
    events = events if events is not None else read_events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.expr(f"click_ts - INTERVAL {range_}")),
        join_type,
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def user_running_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user running (count, value-sum) as
    :func:`user_running_counts_stream`, on the Spark-4-native
    ``transformWithStateInPandas`` API (SPARK-49564): typed ValueState
    through a StatefulProcessor handle instead of the single
    GroupState tuple. The new API is the forward path — it adds
    multiple named state variables, timers, and TTL per state var —
    and requires the RocksDB state store (set here on the session;
    HDFS-backed state does not support it). ENVIRONMENT NOTE: the TWS
    state protocol needs the `protobuf` package on the driver; without
    it the TWS driver worker crashes at query start (its test is
    importorskip-gated the way the live-JDBC round-trip is)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: "StatefulProcessorHandle") -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningAgg(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_join_view_maintenance(
    sdf: DataFrame, dim: DataFrame, *, on: str, view_dir: str, checkpoint: str
) -> None:
    """Streaming IVM: keep a JOIN view fresh from micro-batches.

    Each arriving batch is an insert-delta ΔL of the stream side; the
    maintained view gains exactly ``Δ(L ⋈ R) = ΔL ⋈ R`` per batch
    (``operators/ivm.py:incremental_join_delta`` with the static-side
    delta empty) — the streaming counterpart of
    ``incremental_join_maintenance``'s batch split, and the view the
    reference rebuilds from scratch per run. Work per trigger scales
    with the batch, never the accumulated view.

    Replay safety: foreachBatch is at-least-once, so the delta lands
    partitioned by ``_batch_id`` with dynamic overwrite — a replayed
    batch replaces its own partition (the ``run_foreach_batch_to_parquet``
    idempotence pattern), keeping the view exactly-once.
    """
    from leader_graph_spark.operators.ivm import incremental_join_delta

    empty_l = sdf.sparkSession.createDataFrame([], sdf.schema)
    empty_r = dim.sparkSession.createDataFrame([], dim.schema)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = incremental_join_delta(empty_l, batch_df, dim, empty_r, on)
        (
            delta.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(view_dir)
        )

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def user_sessions_stateful(
    spark: SparkSession,
    sf_dir: str,
    *,
    gap: str = "5 minutes",
    events: DataFrame | None = None,
) -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator with
    EVENT-TIME TIMEOUT — the hand-rolled twin of the built-in
    ``session_window`` aggregation (``session_windows``), for the
    session shapes the built-in can't express (per-session custom
    payloads, early emission policies). Semantics are identical by
    construction and asserted in tests: events within ``gap`` of each
    other chain into one session; a session CLOSES either when a later
    in-batch event breaks the gap (emitted immediately) or when the
    watermark passes last_event+gap (the state's event-time timeout
    fires and flushes it).

    State is one (start, last, n) tuple per user — bounded by key
    cardinality; the timeout is what guarantees state cannot leak on
    users that go silent, which is the entire point of event-time
    timeouts (NoTimeout + silence = immortal state)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_sec = {"5 minutes": 300, "1 hour": 3600}.get(gap)
    if gap_sec is None:
        num, unit = gap.split()
        gap_sec = int(num) * {"seconds": 1, "minutes": 60, "hours": 3600}[unit]

    src = events if events is not None else read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.TimestampType()),
            T.StructField("last", T.TimestampType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def emit(uid, sessions):
        return pd.DataFrame(
            {
                "user_id": [uid] * len(sessions),
                "session_start": [s[0] for s in sessions],
                "session_end": [s[1] for s in sessions],
                "n_events": [s[2] for s in sessions],
            }
        )

    def update(key, pdfs, state: "GroupState"):
        uid = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit(uid, [(start, last, n)])
            return
        ts = sorted(t for pdf in pdfs for t in pdf["ts"].tolist())
        if not ts:
            return
        # Gap-merge the carried session INTERVAL together with the
        # batch's event points, sorted by interval start. A forward-only
        # scan seeded at carried.last mishandled late-but-in-watermark
        # events older than the carried session (negative deltas always
        # passed the gap test and moved session_end BACKWARD — round-5
        # advice fix); interval merge gives the built-in session_window
        # semantics: merge iff within gap of the session's span, start =
        # min, end = max (monotone), late-older events either extend the
        # session backward or form their own session.
        items = [[t, t, 1] for t in ts]
        if state.exists:
            c = state.get
            items.append([c[0], c[1], c[2]])
            items.sort(key=lambda it: (it[0], it[1]))
        merged = [items[0]]
        for s, e, n in items[1:]:
            prev = merged[-1]
            if (s - prev[1]).total_seconds() <= gap_sec:
                prev[1] = max(prev[1], e)
                prev[2] += n
            else:
                merged.append([s, e, n])
        closed = [tuple(iv) for iv in merged[:-1]]
        cur = merged[-1]
        state.update(tuple(cur))
        # flush the open session when the watermark passes last+gap
        state.setTimeoutTimestamp(int(cur[1].timestamp() * 1000) + gap_sec * 1000)
        if closed:
            yield emit(uid, closed)

    return (
        src.withWatermark("ts", "2 hours")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_split_late_events(
    spark: SparkSession,
    sdf: DataFrame,
    *,
    ts_col: str,
    out_dir: str,
    late_dir: str,
    state_dir: str,
    checkpoint: str,
    lateness_sec: int,
) -> None:
    """Late-event DEAD-LETTER split (round-5, §2.9d family): watermarked
    stateful operators silently DROP rows older than the watermark;
    production ingest routes them to a side sink instead — audit,
    backfill, or re-keying decisions need the rows, not their absence
    (the time-semantics analog of the retry DLQ's terminal-failure
    records, ``processor/data_processor.py:331-419``).

    Mechanics: a tiny high-watermark STATE table (one row per batch,
    ``max(ts)`` seen) lives next to the checkpoint; each batch reads
    the running max, diverts rows with
    ``ts < high_water − lateness`` to ``late_dir``, lands the rest in
    ``out_dir``, then appends its own max — all three writes
    idempotent under replay (the sinks by ``_batch_id`` dynamic
    overwrite; the state because a replayed append only repeats a max
    the running aggregate already absorbs). The cutoff reads only
    state rows from STRICTLY EARLIER batches (``_batch_id <
    batch_id``), so a batch's own rows never mark each other late —
    including on CRASH REPLAY: if the crash landed between the state
    append and the checkpoint commit, the replayed batch would
    otherwise read its own ``max(ts)`` as ``prev`` and reroute its own
    rows to the late sink, placing rows differently between attempts
    (matching watermark semantics, which lag by one trigger)."""
    main_sink = batch_id_partitioned_sink(out_dir)
    late_sink = batch_id_partitioned_sink(late_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        try:
            prev = (
                spark.read.parquet(state_dir)
                .where(F.col("_batch_id") < F.lit(batch_id))
                .agg(F.max("wm"))
                .first()[0]
            )
        except Exception:  # noqa: BLE001 — first batch: no state yet
            prev = None
        if prev is not None:
            is_late = F.col(ts_col) < F.lit(prev) - F.expr(
                f"INTERVAL {lateness_sec} SECONDS"
            )
        else:
            is_late = F.lit(False)
        batch_df = batch_df.persist()
        late_sink(batch_df.filter(is_late), batch_id)
        main_sink(batch_df.filter(~is_late), batch_id)
        mx = batch_df.agg(F.max(ts_col).alias("wm"))
        mx.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
            state_dir
        )
        batch_df.unpersist()

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
