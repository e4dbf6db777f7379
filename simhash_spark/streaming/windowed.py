"""Structured Streaming operators: watermarked windowed aggregation, a
custom stateful operator, and the stream -> incremental-dedup wiring.

These complete the streaming story around ``incremental.py``:

- ``windowed_event_counts`` — event-time tumbling-window aggregates with
  a watermark for late data (append mode emits a window only once the
  watermark passes its end — the standard late-data contract).
- ``dedup_events_stateful`` — custom stateful op via
  ``applyInPandasWithState``: per-key seen-set state drops duplicate
  event_ids across micro-batches (the streaming analog of the engine's
  exact detector, with a state timeout to bound memory).
- ``run_incremental_dedup_stream`` — ``readStream`` ->
  ``foreachBatch(IncrementalDedup.ingest)``: ties the streaming source
  to the checkpointed incremental matcher. Spark's micro-batch id feeds
  the store's idempotent batch token and each batch's matches land in a
  per-batch overwrite directory, so failure/replay of a micro-batch
  re-appends NOTHING and rewrites the same matches — end-to-end
  effectively-exactly-once.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = "event_id long, user_id long, event_type string, ts timestamp, value double"
CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
)


def windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    schema: str = EVENTS_SCHEMA,
) -> DataFrame:
    """Streaming tumbling-window counts with late-data watermark.

    Append-mode semantics: a (window, event_type) row is emitted exactly
    once, when the event-time watermark (max seen ts - ``watermark``)
    passes the window end; later-than-watermark events are dropped."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_value_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value_c",
        )
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("is_new", T.BooleanType()),
    ]
)
_DEDUP_STATE = T.StructType([T.StructField("seen", T.ArrayType(T.LongType()))])


def dedup_events_stateful(
    spark: SparkSession,
    input_dir: str,
    schema: str = EVENTS_SCHEMA,
    timeout_ms: int = 60 * 60 * 1000,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user seen-event_id state across micro-batches; an event is
    flagged is_new exactly once. Processing-time timeout bounds state
    memory."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in batches:
            for eid in pdf["event_id"]:
                eid = int(eid)
                out.append((key[0], eid, eid not in seen))
                seen.add(eid)
        state.update((list(seen),))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(out, columns=["user_id", "event_id", "is_new"])

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    cfg=None,
    schema: str = CLIPS_SCHEMA,
):
    """readStream over a clips directory -> foreachBatch ->
    IncrementalDedup.ingest. Returns the started query (availableNow
    trigger: drains everything currently in the directory, then stops).

    Exactly-once wiring: Spark's micro-batch id becomes the store's
    idempotent append token; ingest() durably appends the batch's matches
    BEFORE its profile rows (the watermark), so a replay after ANY
    failure point — including a crash between ingest() returning and
    this overwrite committing — re-reads the stored matches rather than
    recomputing an empty set against an already-advanced watermark
    (ADVICE r2, medium).
    Each batch's matches land with OVERWRITE in
    ``<state>/matches_out/batch-<id>``: replays rewrite identical data."""
    from simhash_spark.streaming.incremental import IncrementalDedup

    inc = IncrementalDedup(spark, state_dir, cfg)
    out_base = os.path.join(state_dir, "matches_out")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        matches = inc.ingest(batch_df, batch_id=f"stream-batch-{batch_id}")
        matches.write.mode("overwrite").parquet(
            os.path.join(out_base, f"batch-{batch_id}")
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(state_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
