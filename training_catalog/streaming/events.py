"""Structured Streaming operators over the events table.

The reference is strictly batch (SURVEY.md §2.11); this module is the
engine's streaming extension point.  The same windowed aggregation runs
either continuously (micro-batch with watermarked state) or as an
incremental catch-up batch via ``Trigger.AvailableNow`` — the pattern a
100 TB event pipeline uses for backfill + tail-following with one code path.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType


def _ntz_to_ltz(schema: StructType) -> StructType:
    """Relabel TIMESTAMP_NTZ fields as TIMESTAMP.

    Spark 4.1 infers Parquet ``timestamp[us]`` without the UTC flag as NTZ,
    which ``withWatermark`` rejects.  The session tz is pinned UTC so the
    instants are identical; supplying the LTZ schema to the file source makes
    it read the same physical values as TIMESTAMP.
    """
    return StructType([
        StructField(f.name, TimestampType(), f.nullable, f.metadata)
        if isinstance(f.dataType, TimestampNTZType) else f
        for f in schema.fields
    ])


def windowed_event_counts(spark: SparkSession, sf_dir: str,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts per event_type, executed as a real streaming
    query (file source → watermarked window agg → memory sink) drained with
    availableNow.  Returns the final result table.

    Output: (window_start timestamp, event_type, n_events) — with an
    epoch-aligned window so a batch ``date_trunc`` oracle reproduces it.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_file = f"{sf_dir}/events.parquet"
    schema = _ntz_to_ltz(spark.read.parquet(events_file).schema)
    # The streaming file source wants a directory; glob-filter to the table.
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        # Parquet TIMESTAMP(NANOS) read as long; exact integer ns → µs.
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def windowed_event_counts_append(spark: SparkSession, events_dir: str,
                                 window: str = "1 hour",
                                 watermark: str = "30 minutes",
                                 max_files_per_trigger: int = 1,
                                 glob_filter: str | None = None) -> DataFrame:
    """APPEND-mode windowed counts: each (window_start, event_type) row
    emits exactly once, after the watermark passes the window's end, and
    rows arriving later than the watermark are DROPPED — the production
    shape for an unbounded stream, where complete mode's full-result
    rewrite would mean unbounded state and output.

    ``max_files_per_trigger=1`` + availableNow replays the directory one
    file per micro-batch, so watermark advancement and late-row eviction
    run exactly as they would on a live tail — this is the engine's
    late-data semantics under test, not just a batch in disguise.
    Windows the watermark never passes stay in state and do NOT emit
    (their rows are simply absent from the result).  Late-row dropping
    follows Spark's guarantee: a row later than the watermark is dropped
    once its window's state was finalized/evicted; if the window is
    still in state the row is aggregated (documented best-effort).
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = (f"{events_dir}/{glob_filter}" if glob_filter else events_dir)
    schema = _ntz_to_ltz(spark.read.parquet(probe).schema)
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    stream = reader.parquet(events_dir)
    if isinstance(schema["ts"].dataType, LongType):
        # Parquet TIMESTAMP(NANOS) read as long; exact integer ns → µs.
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    name = f"stream_counts_append_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def stateful_user_sessions(spark: SparkSession, sf_dir: str,
                           gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator: per-user gap sessionization via
    ``applyInPandasWithState`` (the SURVEY.md §2.12 extension point for
    operators Spark's built-ins can't express incrementally).

    Each user's state carries (n_sessions, last_event_ts); a new event
    opens a session when the gap exceeds ``gap_minutes``.  Drained with
    availableNow so the batch oracle (lag + cumulative window) can verify
    the final counts.  Output: (user_id, n_sessions, n_events).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _ntz_to_ltz(spark.read.parquet(f"{sf_dir}/events.parquet").schema)
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        n_sessions, last_us, n_events = (
            state.get if state.exists else (0, None, 0))
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            us = int(ts.value // 1000)  # pandas ns → µs
            if last_us is None or us - last_us > gap_us:
                n_sessions += 1
            last_us = us
        n_events += len(rows)
        state.update((n_sessions, last_us, n_events))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    out = (stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="n_sessions long, last_us long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))

    name = f"stateful_sessions_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def stateful_user_sessions_tws(spark: SparkSession, sf_dir: str,
                               gap_minutes: int = 30) -> DataFrame:
    """The SAME gap sessionization on Spark 4's State-V2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor`` +
    ``ValueState``) — the successor to ``applyInPandasWithState`` and
    the extension point for operators needing typed state composition
    (value/list/map state, timers, TTL) rather than one opaque tuple.

    Semantics are pinned EQUAL to :func:`stateful_user_sessions` (and
    both to the ``sessionize_user_sessions`` SQL oracle): per-user
    (n_sessions, last_us, n_events) ValueState, a new session when the
    event gap exceeds ``gap_minutes``.  State V2 requires the RocksDB
    state store provider; the session's prior provider setting is
    restored after the drain."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _ntz_to_ltz(
        spark.read.parquet(f"{sf_dir}/events.parquet").schema)
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))

    gap_us = gap_minutes * 60 * 1_000_000

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "sess", "n_sessions long, last_us long, n_events long")

        def handleInputRows(self, key, rows, timer_values):
            if self._st.exists():
                n_sessions, last_us, n_events = self._st.get()
            else:
                n_sessions, last_us, n_events = 0, None, 0
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                us = int(ts.value // 1000)   # pandas ns → µs
                if last_us is None or us - last_us > gap_us:
                    n_sessions += 1
                last_us = us
            n_events += len(pdf)
            self._st.update((n_sessions, last_us, n_events))
            yield pd.DataFrame({"user_id": [key[0]],
                                "n_sessions": [n_sessions],
                                "n_events": [n_events]})

        def close(self) -> None:
            pass

    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType="user_id long, n_sessions long, n_events long",
        outputMode="Update",
        timeMode="None")

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        name = f"sessions_tws_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    return spark.table(name)


def stream_static_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the standard streaming-ETL shape:
    an unbounded event stream joins a slowly-changing dimension (here the
    customer table, re-read each micro-batch by Spark's stream-static
    join semantics, broadcast because it is dimension-sized) and rolls up
    per segment.

    Executed as a real streaming query (file source → stream-static inner
    join → watermarked-free global agg → memory sink, complete mode)
    drained with availableNow.  ``sum_cents`` uses the exact
    floor-fixed-point pattern so the batch-twin oracle hash-matches.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_file = f"{sf_dir}/events.parquet"
    schema = _ntz_to_ltz(spark.read.parquet(events_file).schema)
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    customers = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment"))
    agg = (
        stream.join(customers, stream["user_id"] == customers["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 100).cast("long"))
              .alias("sum_cents"))
    )
    name = f"stream_enriched_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def stream_stream_click_purchase_join(spark: SparkSession,
                                      sf_dir: str,
                                      horizon_minutes: int = 60) -> DataFrame:
    """Stream-stream inner join with event-time bounds — the attribution
    shape: each click matches the same user's purchases within
    ``horizon_minutes`` AFTER the click.  Both sides carry watermarks and
    the join predicate bounds purchase time to [click, click + horizon],
    so Spark can evict click state once the purchase watermark passes the
    horizon — bounded state on an unbounded stream, which is the whole
    point of the operator.

    Drained availableNow into a memory sink (append mode — inner
    stream-stream joins emit each match exactly once); the batch twin is
    the plain self-join with identical bounds.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_file = f"{sf_dir}/events.parquet"
    schema = _ntz_to_ltz(spark.read.parquet(events_file).schema)

    def read_side():
        s = (spark.readStream.schema(schema)
             .option("pathGlobFilter", "events.parquet")
             .parquet(sf_dir))
        if isinstance(schema["ts"].dataType, LongType):
            s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return s

    clicks = (read_side().filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (read_side().filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
    ).select("click_id", "purchase_id",
             F.col("c_user").alias("user_id"))
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    # Stream-stream joins keep TWO keyed state stores per shuffle
    # partition; at local/bench scale the per-store fixed cost dominates,
    # so the drain runs at a reduced partition count (state sizing is a
    # deployment knob on a real cluster — scale it with key cardinality,
    # not with this default).  Restored after the drain.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def bounded_dedup_event_counts(spark: SparkSession, sf_dir: str,
                               watermark: str = "2 hours") -> DataFrame:
    """Watermark-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    keyed on (event_id) over a self-unioned event stream (every row arrives
    twice), so the state store holds each key only until the watermark
    passes it — the production answer to the unbounded-state caveat on
    ``streaming/documents.py`` (plain ``dropDuplicates`` keeps ALL keys
    forever; a 100 TB tail-follower cannot).

    Output: (event_type, n_unique) — duplicates from the self-union land in
    the same micro-batch, well inside any watermark, so the drained result
    is exactly the batch ``count(DISTINCT event_id)`` per type
    (DuckDB-oracle-checkable) while state stays bounded by the delay
    window instead of the corpus.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_file = f"{sf_dir}/events.parquet"
    schema = _ntz_to_ltz(spark.read.parquet(events_file).schema)
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    doubled = stream.unionByName(stream)
    deduped = (doubled
               .select("event_id", "event_type", "ts")
               .withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["event_id"]))
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    name = f"stream_bdedup_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def stream_lake_ingest(spark: SparkSession, sf_dir: str,
                       out_dir: str | None = None) -> DataFrame:
    """Streaming lakehouse ingest — the durable WRITE path (every other
    streaming query here drains to a memory sink): events stream →
    day-partitioned parquet lake with a file-sink checkpoint, exactly-once
    per availableNow drain (the sink's transaction log makes replayed
    batches idempotent).  Returns the per-day rollup of the files read
    BACK from the lake, so correctness covers the full
    write→commit→read-back cycle, not the in-flight frame.
    """
    import shutil
    import tempfile

    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_file = f"{sf_dir}/events.parquet"
    schema = _ntz_to_ltz(spark.read.parquet(events_file).schema)
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    enriched = stream.withColumn("day", F.to_date("ts"))

    base = out_dir or tempfile.mkdtemp(prefix="lake_ingest_")
    data_dir, ckpt_dir = f"{base}/data", f"{base}/ckpt"
    try:
        q = (enriched.writeStream.format("parquet")
             .option("path", data_dir)
             .option("checkpointLocation", ckpt_dir)
             .partitionBy("day")
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        back = spark.read.parquet(data_dir)
        out = (back.groupBy("day", "event_type")
               .agg(F.count("*").alias("n_events"),
                    F.sum(F.floor(F.col("value") * 100).cast("long"))
                     .alias("sum_cents")))
        # materialize before the lake dir is cleaned up
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        if out_dir is None:
            shutil.rmtree(base, ignore_errors=True)
