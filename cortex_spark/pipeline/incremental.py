"""Incremental auto-link cycle with persisted cursor (SURVEY §2.11, §3.3).

Distributed re-expression of AutoLinker::run_cycle (auto_linker.rs:185-364):

  read cursor (first run: now − 24 h, auto_linker.rs:95-107; config change →
  epoch reset, :137-182) → nodes with created_at/updated_at > cursor (W6,
  graph/temporal.rs:38-53), take ≤ max_nodes_per_cycle oldest-first →
  insert them into the persisted LSH index and probe it top-k (new nodes
  are queries against the whole indexed corpus, not a self-join — the
  incremental candidate join; linker/index.py) → rule pass → the link
  tail batch linking uses too (`linker.pipeline.link_tail`: anti-join
  existing edges (J11), first-rule-wins, per-node cap, plus the per-cycle
  cap) → append edges + advance cursor + persist metrics (A7).

Cursor + cycle count + config hash live in a JSON meta file (the analogue of
the reference's meta table / an Iceberg snapshot pointer).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.io import write_json_atomic
from cortex_spark.linker.pipeline import _attach_attrs, link_tail, linkable
from cortex_spark.linker.rules import LinkerConfig, apply_link_rules

MAX_NODES_PER_CYCLE = 500  # linker/config.rs:56-74
MAX_EDGES_PER_CYCLE = 2000
GENERIC_CONTENT_THRESHOLD = 30

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _config_hash(cfg: LinkerConfig, embed_model: str) -> str:
    import hashlib

    key = f"{cfg.auto_link_threshold}:{embed_model}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def read_meta(meta_path: str) -> dict | None:
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    return None


def select_fresh(live: DataFrame, cursor_lit, max_nodes: int) -> DataFrame:
    """W6/§2.11 changed-since batch: live nodes created OR updated after the
    cursor, deterministic (created_at, node_id) order, per-cycle cap
    (auto_linker.rs:189-210). Factored out so the selection semantics are
    driver-oracle-checkable on their own."""
    return (
        live.filter((F.col("created_at") > cursor_lit) | (F.col("updated_at") > cursor_lit))
        .orderBy(F.asc("created_at"), F.asc("node_id"))
        .limit(max_nodes)
    )


def run_cycle(
    nodes: DataFrame,
    existing_edges: DataFrame,
    meta_path: str,
    config: LinkerConfig | None = None,
    now: datetime | None = None,
    embed_model: str = "hash-v1",
    max_nodes_per_cycle: int = MAX_NODES_PER_CYCLE,
    max_edges_per_cycle: int = MAX_EDGES_PER_CYCLE,
    *,
    index_store,
) -> tuple[DataFrame, dict]:
    """One incremental cycle. Returns (new_edges, metrics).

    Caller appends new_edges to the edge table; metrics carries the advanced
    cursor (already persisted to meta_path).

    `index_store` (an LshIndexStore) holds the live corpus's LSH signatures
    as a PERSISTED table: the cycle signs the ≤500 fresh nodes only, appends
    them and probes the stored index, so per-cycle cost tracks the fresh
    count, not the corpus. The first cycle on an empty index indexes the
    pre-cursor backlog once.
    """
    cfg = config or LinkerConfig()
    now = now or datetime(2026, 1, 1, tzinfo=timezone.utc)
    meta = read_meta(meta_path)
    chash = _config_hash(cfg, embed_model)
    if meta is None:
        cursor = now - timedelta(hours=24)  # auto_linker.rs:95-107
        cycle = 0
    elif meta.get("config_hash") != chash:
        cursor = EPOCH  # config change → full re-scan (auto_linker.rs:137-182)
        cycle = meta.get("cycle", 0)
    else:
        cursor = datetime.fromisoformat(meta["cursor"])
        cycle = meta.get("cycle", 0)

    cursor_lit = F.to_timestamp(F.lit(cursor.strftime("%Y-%m-%d %H:%M:%S")))
    live = linkable(nodes)
    fresh = select_fresh(live, cursor_lit, max_nodes_per_cycle).localCheckpoint(eager=True)
    n_fresh, max_created = fresh.agg(F.count(F.lit(1)), F.max("created_at")).first()
    if n_fresh == 0:
        metrics = {"nodes_processed": 0, "edges_created": 0, "cursor": cursor.isoformat(), "cycle": cycle + 1}
        _write_meta(meta_path, cursor, cycle + 1, chash, metrics)
        return nodes.sparkSession.createDataFrame([], existing_edges.schema), metrics

    # incremental candidate join: fresh nodes probe the corpus index (the
    # reference's per-node HNSW search against the whole index)
    if not index_store.exists():
        # first cycle: index the pre-cursor backlog once
        index_store.append(live.join(fresh.select("node_id"), "node_id", "left_anti"))
    # insert-then-search, like the reference's HNSW cycle — fresh nodes
    # see both the stored corpus and each other
    index_store.append(fresh)
    pairs = index_store.probe(fresh, k=cfg.ann_k)
    # drop tombstoned/stale index entries (HNSW-stale semantics)
    pairs = pairs.join(live.select(F.col("node_id").alias("b_id")), "b_id", "left_semi")

    proposed = apply_link_rules(_attach_attrs(pairs, live, cfg), cfg)
    new_edges = link_tail(
        proposed, cfg, now, existing_edges, max_edges=max_edges_per_cycle
    ).localCheckpoint(eager=True)

    # one row per linked fresh node: a driver-sized collect
    per_src = [r["count"] for r in new_edges.groupBy("src").count().collect()]
    n_edges = sum(per_src)
    generic = sum(c >= GENERIC_CONTENT_THRESHOLD for c in per_src)
    new_cursor = max(cursor.replace(tzinfo=None), max_created) if max_created else cursor.replace(tzinfo=None)
    metrics = {
        "nodes_processed": n_fresh,
        "edges_created": n_edges,
        "generic_content_nodes": generic,
        "cursor": new_cursor.isoformat(),
        "cycle": cycle + 1,
    }
    _write_meta(meta_path, new_cursor, cycle + 1, chash, metrics)
    return new_edges, metrics


def _write_meta(meta_path: str, cursor: datetime, cycle: int, chash: str, metrics: dict) -> None:
    write_json_atomic(
        meta_path,
        {"cursor": cursor.replace(tzinfo=None).isoformat(), "cycle": cycle, "config_hash": chash, "last_metrics": metrics},
        indent=1,
    )
