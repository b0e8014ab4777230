"""Streaming KG construction: event stream → nodes → incremental link cycle.

Composes the pieces the reference runs as a server (NATS ingest feeding the
background auto-linker, serve.rs:176-200,402-441) into one Structured
Streaming job: each micro-batch appends templated nodes, then runs ONE
auto-link cycle (pipeline/incremental.run_cycle) against the accumulated
node table using the persisted LSH signature index — so per-batch cost
tracks the batch size, not the corpus.

Exactly-once: the streaming checkpoint dedupes source files; node appends
are idempotent per batch under availableNow re-runs only if the query
checkpoint survives (same guarantee Structured Streaming gives any
foreachBatch parquet sink); the linker cursor lives in the same out_dir.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cortex_spark.linker.rules import LinkerConfig
from cortex_spark.schemas import EDGES
from cortex_spark.streaming.ingest import EVENT_SCHEMA, warren_events_to_nodes


def stream_autolink(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    config: LinkerConfig | None = None,
    source_agent: str = "warren",
    embed_dim: int = 64,
    embed_seed: int = 42,
):
    """Start an availableNow streaming query; returns the StreamingQuery.

    Layout under out_dir: nodes/ edges/ (parquet, append-only),
    lsh_index/ (persisted signature index), linker_meta.json (cursor),
    metrics.jsonl (one line per cycle), _stream_checkpoint/.
    """
    from cortex_spark.embed import embed_input_col, embed_udf
    from cortex_spark.linker.index import LshIndexStore
    from cortex_spark.pipeline.incremental import run_cycle

    cfg = config or LinkerConfig()
    nodes_dir = os.path.join(out_dir, "nodes")
    edges_dir = os.path.join(out_dir, "edges")
    meta_path = os.path.join(out_dir, "linker_meta.json")
    metrics_path = os.path.join(out_dir, "metrics.jsonl")
    index_dir = os.path.join(out_dir, "lsh_index")

    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(source_dir)
    parsed = raw.select(F.from_json(F.col("value"), EVENT_SCHEMA).alias("e")).select("e.*")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nodes_b = warren_events_to_nodes(batch_df, source_agent)
        embed = embed_udf(embed_dim, embed_seed)
        nodes_b = nodes_b.withColumn(
            "embedding",
            embed(embed_input_col(F.col("kind"), F.col("title"), F.col("body"), F.col("tags"))),
        ).localCheckpoint(eager=True)
        if nodes_b.isEmpty():
            return
        # cross-batch dedup (the same title+session invariant the in-batch
        # dropDuplicates enforces, ARCHITECTURE.md:188): a replayed or
        # re-delivered event must not append a second row under the same
        # node_id — the parquet sink is append-only
        if os.path.isdir(nodes_dir):
            prior_ids = spark.read.parquet(nodes_dir).select("node_id")
            nodes_b = nodes_b.join(prior_ids, "node_id", "left_anti").localCheckpoint(eager=True)
            if nodes_b.isEmpty():
                return
        nodes_b.write.mode("append").parquet(nodes_dir)

        all_nodes = spark.read.parquet(nodes_dir)
        # first-run detection by path existence, not a bare except: a
        # transient read failure must propagate (Structured Streaming
        # retries the batch) rather than masquerade as "no existing edges"
        # and duplicate every qualifying link (see streaming/windows.py)
        if os.path.isdir(edges_dir):
            existing = spark.read.parquet(edges_dir)
        else:
            existing = spark.createDataFrame([], EDGES)
        # cycle clock = newest event in the batch (deterministic, replayable)
        now = nodes_b.agg(F.max("created_at")).first()[0]
        # an existing index keeps the params it was built with: a store made
        # at the defaults would relabel its meta on append and sign with
        # params its earlier rows were not written under
        store = LshIndexStore(index_dir, spark, dim=embed_dim)
        if os.path.exists(store.meta_path):
            store = LshIndexStore.open(index_dir, spark)
        new_edges, metrics = run_cycle(
            all_nodes, existing, meta_path, cfg, now=now, index_store=store
        )
        new_edges.write.mode("append").parquet(edges_dir)
        metrics["batch_id"] = batch_id
        with open(metrics_path, "a") as f:
            f.write(json.dumps(metrics, default=str) + "\n")

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
