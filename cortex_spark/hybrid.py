"""Hybrid retrieval: α·cosine + (1−α)·graph-proximity (SURVEY §2.4 J12).

Re-expresses vector/hybrid.rs:113-225:
1. embed the query text (same deterministic encoder as the pipeline),
2. vector candidates = cosine against all live node embeddings, top 3·limit
   (the reference over-fetches 3×, hybrid.rs:118-127) — a broadcast of ONE
   query vector, so this is a narrow scan, not a join,
3. graph proximity: multi-source BFS from the anchors (depth ≤ 3),
   proximity = 1/(1+depth) to the NEAREST anchor (hybrid.rs:207-221),
4. combined = w·cos + (1−w)·prox (hybrid.rs:163-164, w=0.7 default),
5. optional query-time score decay (vector/scoring.rs) then top-limit.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.embed import encode_py
from cortex_spark.functions.scoring import hybrid_score_col, score_decay_col
from cortex_spark.functions.similarity import cosine_col
from cortex_spark.graph.traverse import bfs
from cortex_spark.linker.pipeline import linkable

DEFAULT_VECTOR_WEIGHT = 0.7  # hybrid.rs:34-45
DEFAULT_MAX_ANCHOR_DEPTH = 3

# Interactive-search path selection (the same auto-switch pattern as
# gate.LSH_ABOVE_INCOMING): while the live corpus is below this, one exact
# scan + TakeOrdered is cheaper than an index probe; above it, each query
# routes through the persisted LSH signature index so query cost tracks the
# probed buckets, not the corpus (the reference serves EVERY search through
# HNSW, vector/index.rs:325-373 — full scans per query don't survive 100 TB).
INDEX_ABOVE_CORPUS = 10_000
# Index probes over-fetch so post-probe filters (kind/agent/exclude/deleted)
# still leave k survivors — the reference's 3× hybrid over-fetch, widened.
INDEX_OVERFETCH = 5


def vector_search(
    nodes: DataFrame,
    query_text: str,
    k: int = 10,
    embed_dim: int = 384,
    embed_seed: int = 42,
    kinds: list[str] | None = None,
    exclude_ids: list[str] | None = None,
    source_agent: str | None = None,
    index=None,
    use_index: bool | None = None,
) -> DataFrame:
    """Top-k cosine for one query vector (VectorFilter F4 applied pre-score).

    Without an index (or with one holding ≤ INDEX_ABOVE_CORPUS rows, by its
    meta's rows_indexed): the exact scan — the query vector is a literal
    array, no shuffle, one scan + TakeOrdered. With `index` (an
    LshIndexStore) over a larger corpus: probe the persisted signature
    index — the scan partition-prunes to the query's buckets. Either way
    the filters are written once, over the scored live rows; Catalyst
    pushes them below the score Project and into the index path's join."""
    qvec = [float(x) for x in encode_py(query_text, embed_dim, embed_seed)]
    if index is not None and use_index is None:
        # Path pick is driver-side metadata, not a Spark job: the index meta
        # carries a corpus-size hint (rows_indexed, written by every append
        # and compact; a store with no meta reads as 0 and takes the exact
        # scan), so interactive queries don't launch a count job just to
        # choose brute-vs-index.
        use_index = index.meta()["rows_indexed"] > INDEX_ABOVE_CORPUS
    if index is not None and use_index:
        fetch_k = k * INDEX_OVERFETCH + len(exclude_ids or ())
        scored = _indexed_scan(nodes, index, qvec, fetch_k)
    else:
        scored = _exact_scan(nodes, qvec)
    if kinds:
        scored = scored.filter(F.col("kind").isin(kinds))
    if exclude_ids:
        scored = scored.filter(~F.col("node_id").isin(exclude_ids))
    if source_agent:
        scored = scored.filter(F.col("source_agent") == source_agent)
    return scored.orderBy(F.desc("vector_score"), F.asc("node_id")).limit(k)


def _exact_scan(nodes: DataFrame, qvec: list[float]) -> DataFrame:
    """Every live node with an embedding, scored against the literal query
    vector: nodes.* plus vector_score."""
    lit = F.array(*[F.lit(x) for x in qvec])
    return linkable(nodes).withColumn("vector_score", cosine_col(F.col("embedding"), lit))


def _indexed_scan(nodes: DataFrame, index, qvec: list[float], fetch_k: int) -> DataFrame:
    """The index-served candidates in `_exact_scan`'s columns: one
    single-row query frame probes the persisted LSH signature index
    (partition-pruned to the query's buckets) for `fetch_k` hits, which
    join back to the live node attrs and keep the probe's exact cosine
    scores. Tombstoned / stale index entries drop at the live-join
    (HNSW-stale semantics)."""
    live = linkable(nodes)
    qdf = live.sparkSession.createDataFrame(
        [("__query__", qvec)], "node_id string, embedding array<float>"
    )
    hits = index.probe(qdf, k=fetch_k).select(
        F.col("b_id").alias("node_id"), F.col("score").alias("vector_score")
    )
    # inner: only live nodes survive; column order matches the exact scan
    return hits.join(live, "node_id").select(*live.columns, "vector_score")


def search_threshold(nodes: DataFrame, query_text: str, threshold: float, embed_dim: int = 384, embed_seed: int = 42) -> DataFrame:
    """All nodes with cosine ≥ threshold (index.rs:375-387)."""
    qvec = [float(x) for x in encode_py(query_text, embed_dim, embed_seed)]
    return _exact_scan(nodes, qvec).filter(F.col("vector_score") >= threshold)


def hybrid_search(
    nodes: DataFrame,
    edges: DataFrame,
    query_text: str,
    anchors: list[str] | None = None,
    limit: int = 10,
    vector_weight: float = DEFAULT_VECTOR_WEIGHT,
    max_anchor_depth: int = DEFAULT_MAX_ANCHOR_DEPTH,
    recency_bias: float = 0.0,
    now: datetime | None = None,
    embed_dim: int = 384,
    embed_seed: int = 42,
    index=None,
    use_index: bool | None = None,
) -> DataFrame:
    """Returns (node_id, kind, title, vector_score, graph_score, combined_score).

    `index`/`use_index` route the vector-candidate stage through the
    persisted LSH signature index on large corpora (see vector_search)."""
    cands = vector_search(
        nodes, query_text, k=limit * 3, embed_dim=embed_dim, embed_seed=embed_seed,
        index=index, use_index=use_index,
    )
    if not anchors:
        out = cands.withColumn("graph_score", F.lit(0.0)).withColumn(
            "combined_score", F.col("vector_score")
        )
    else:
        depths = bfs(edges, anchors, max_depth=max_anchor_depth, direction="both", include_start=False)
        prox = depths.select(
            "node_id", (F.lit(1.0) / (F.lit(1.0) + F.col("depth"))).alias("graph_score")
        )
        out = cands.join(prox, "node_id", "left").withColumn(
            "graph_score", F.coalesce(F.col("graph_score"), F.lit(0.0))
        )
        out = out.withColumn(
            "combined_score", hybrid_score_col(F.col("vector_score"), F.col("graph_score"), vector_weight)
        )
    if recency_bias > 0.0:
        now = now or datetime(2026, 1, 1, tzinfo=timezone.utc)
        now_lit = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
        out = out.withColumn(
            "combined_score",
            score_decay_col(
                F.col("combined_score"), F.col("kind"), F.col("last_accessed_at"),
                F.col("access_count"), now_lit, recency_bias,
            ),
        )
    return (
        out.orderBy(F.desc("combined_score"), F.asc("node_id"))
        .limit(limit)
        .select("node_id", "kind", "title", "vector_score", "graph_score", "combined_score")
    )
