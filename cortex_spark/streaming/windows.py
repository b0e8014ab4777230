"""Watermarked windowed aggregation + a custom stateful streaming operator.

Completes the Structured-Streaming surface of SURVEY §2.1/§2.11 beyond the
ingest/autolink jobs:

- stream_windowed_counts: tumbling event-time windows over the event stream
  with a late-data watermark, append-mode parquet sink. Append semantics:
  a (window, kind) row is emitted exactly ONCE, when the watermark passes
  the window end — windows still inside the watermark at stream end stay
  withheld, and events arriving later than the watermark are dropped
  (both behaviors are pinned in pytest with planted stragglers).
- stream_agent_state: applyInPandasWithState (GroupState) — a running
  per-agent (event_count, last_kind, last_seen) accumulator, the Spark
  analogue of the reference server's in-memory per-session counters
  (serve.rs event handling). State lives in the streaming checkpoint, so
  a second availableNow run resumes counts instead of restarting them.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cortex_spark.io import publish_parquet, recover_parquet
from cortex_spark.streaming.ingest import EVENT_SCHEMA, warren_events_to_nodes


def _event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(source_dir)
    return raw.select(F.from_json(F.col("value"), EVENT_SCHEMA).alias("e")).select("e.*")


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
):
    """Start an availableNow append-mode windowed count; returns the query.

    Output parquet rows: (window_start, window_end, kind, n). Only windows
    the watermark has passed are present; late events beyond the watermark
    never count."""
    events = _event_stream(spark, source_dir).filter(F.col("ts").isNotNull())
    counts = (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window(F.col("ts"), window_duration).alias("w"), F.col("type").alias("kind"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "kind",
            "n",
        )
    )
    return (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "window_counts"))
        .option("checkpointLocation", os.path.join(out_dir, "_wc_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


_AGENT_STATE_SCHEMA = "event_count long, last_seen timestamp"
_AGENT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("agent", T.StringType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("last_kind", T.StringType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)


def _agent_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (agent,) = key
    if state.exists:
        count, last_seen = state.get
    else:
        count, last_seen = 0, None
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values("ts", kind="stable")
    count += len(batch)
    if len(batch):
        last_seen = batch["ts"].iloc[-1].to_pydatetime()
        last_kind = str(batch["kind"].iloc[-1])
    else:
        last_kind = None
    state.update((count, last_seen))
    yield pd.DataFrame(
        [{"agent": agent, "event_count": count, "last_kind": last_kind, "last_seen": last_seen}]
    )


def stream_agent_state(spark: SparkSession, source_dir: str, out_dir: str):
    """Start an availableNow stateful query; returns the query. Each batch
    emits one row per agent seen in the batch with the RUNNING totals
    (update semantics via foreachBatch keyed overwrite)."""
    nodes = warren_events_to_nodes(_event_stream(spark, source_dir)).filter(
        F.col("source_session").isNotNull()
    )
    keyed = nodes.select(
        F.col("source_session").alias("agent"), F.col("kind"), F.col("created_at").alias("ts")
    ).groupBy("agent")
    updated = keyed.applyInPandasWithState(
        _agent_state_fn,
        outputStructType=_AGENT_OUT_SCHEMA,
        stateStructType=_AGENT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    stats_dir = os.path.join(out_dir, "agent_stats")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.localCheckpoint(eager=True)
        if fresh.isEmpty():
            return
        # crash-window recovery: a previous publish may have renamed the
        # live dir away without publishing its replacement — restore it
        # before the first-run check below can misread the gap as a fresh
        # store
        recover_parquet(stats_dir)
        # First-run detection by path existence, NOT a bare except: a
        # transient read failure must propagate (batch retries) rather
        # than silently overwrite the store with only this batch's agents.
        if os.path.exists(os.path.join(stats_dir, "_SUCCESS")) or (
            os.path.isdir(stats_dir) and any(f.endswith(".parquet") for f in os.listdir(stats_dir))
        ):
            old = spark.read.parquet(stats_dir)
            merged = old.join(fresh.select("agent"), "agent", "left_anti").unionByName(fresh)
        else:
            merged = fresh
        # a crash mid-overwrite of stats_dir itself would leave a partial
        # dir that the first-run check above reads as "fresh store",
        # resetting accumulated state (the failure mode this block exists
        # to prevent) — publish swaps the new table in by rename instead
        publish_parquet(merged, stats_dir)

    return (
        updated.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_state_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
