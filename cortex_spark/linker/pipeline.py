"""Auto-link stage: candidate pairs → new edges (the KG triple-emission job).

Distributed re-expression of the reference auto-link cycle
(auto_linker.rs:185-364, §3.3 of SURVEY). Batch linking (`link_nodes`) and
the incremental cycle (`pipeline.incremental.run_cycle`) differ only in where
their candidate pairs come from; from there on both run the same code:

    candidate pairs (a_id, b_id, score) → `_attach_attrs` → rule pass
    (J2-J10, `apply_link_rules`) → `link_tail`: anti-join existing edges
    (J11) → first-rule-wins per (src,dst,relation) → per-node cap (W7) →
    per-cycle cap (incremental only) → edge rows with provenance

Batch candidates come from `ann_candidates` (each node scans its
neighbors: the LSH bucket GEMM, or the exact scan); the cycle's come from
probing its fresh nodes against the corpus index.

Shuffle budget: one shuffle for the LSH self-join, two broadcast-or-shuffle
joins to attach node attrs (narrow projection only), and ONE `src` exchange
for the whole tail. The attribute projection is kept minimal (8 columns) so
the pair frame stays small at 10^12-node scale.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cortex_spark.linker.lsh import candidate_topk
from cortex_spark.linker.rules import LinkerConfig, apply_link_rules

ATTR_COLS = ["kind", "title", "tags", "source_agent", "source_session", "created_at"]


def linkable(nodes: DataFrame) -> DataFrame:
    """Nodes the linker and the dedup scanner consider: not deleted, embedded."""
    return nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False))).filter(F.col("embedding").isNotNull())


def edge_id() -> Column:
    """Deterministic edge id: sha2(src ␀ dst ␀ relation)[:32]."""
    return F.sha2(F.concat_ws("\x00", "src", "dst", "relation"), 256).substr(1, 32)


def _attach_attrs(ordered_pairs: DataFrame, nodes: DataFrame, cfg: LinkerConfig) -> DataFrame:
    """Attach per-side node attributes to the pair frame.

    The negation flag is evaluated ONCE per node here (`neg`), not per pair —
    the contradiction rule's regex over title+body would otherwise run
    2 × |pairs| × k times over full body text (the round-1 hot spot). `body`
    itself rides along only when a config rule of `cfg` dereferences JSON
    body fields; the default rule set never ships it through the pair frame.
    """
    from cortex_spark.functions.text import has_negation_col

    needs_body = any(
        r.condition in ("body_field_contains", "body_field_ref") for r in cfg.config_rules
    )
    cols = ATTR_COLS + (["body"] if needs_body else [])
    attrs = nodes.select(
        F.col("node_id"),
        *[F.col(c) for c in cols],
        has_negation_col(F.col("title"), F.col("body")).alias("neg"),
    )
    a = attrs.select(
        F.col("node_id").alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in [*cols, "neg"]]
    )
    b = attrs.select(
        F.col("node_id").alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in [*cols, "neg"]]
    )
    return ordered_pairs.join(a, "a_id").join(b, "b_id")


PROPOSAL_VALUE_COLS = ["weight", "ptype", "detail", "pscore", "priority", "score"]


def first_rule_wins(proposed: DataFrame) -> DataFrame:
    """Lowest-priority proposal per (src, dst, relation) via min_by hash-agg
    (J11 proposal-order semantics, redb_storage.rs:812-827). Equivalent to a
    row_number-over-priority window but with map-side partial aggregation —
    at 10^10 proposals the combine happens before the shuffle."""
    picked = proposed.groupBy("src", "dst", "relation").agg(
        F.min_by(F.struct(*PROPOSAL_VALUE_COLS), F.col("priority")).alias("p")
    )
    return picked.select("src", "dst", "relation", *[F.col(f"p.{c}").alias(c) for c in PROPOSAL_VALUE_COLS])


def link_tail(
    proposed: DataFrame,
    cfg: LinkerConfig,
    run_ts: datetime,
    existing_edges: DataFrame | None = None,
    max_edges: int | None = None,
) -> DataFrame:
    """Rule proposals → edge rows: the part of the auto-link cycle batch and
    incremental linking share.

    `existing_edges` drops proposals already present as (src, dst, relation)
    (J11, redb_storage.rs:812-827). `max_edges` is the per-cycle cap of the
    incremental cycle (auto_linker.rs:283-287); batch linking has none.
    """
    if existing_edges is not None:
        proposed = proposed.join(
            existing_edges.select("src", "dst", "relation"), ["src", "dst", "relation"], "left_anti"
        )
    # first rule wins per (src, dst, relation) — proposal order semantics.
    # Hash-aggregate min_by instead of a row_number window: partial (map-side)
    # aggregation shrinks the shuffle and skips the sort; priorities are
    # unique per rule so the pick is deterministic.
    # One exchange for the whole tail (guide §2.4): hash-partitioning by src
    # alone satisfies the clustering the (src,dst,relation) aggregation AND
    # the per-src cap window both require, so the explicit repartition below
    # replaces two back-to-back shuffles (agg by 3 keys, then window by src)
    # with one. Proposals per src are bounded by ann_k x rules, so no
    # hot-key hazard; AQE still coalesces the partition count.
    deduped = first_rule_wins(proposed.repartition("src"))
    # per-node cap in candidate-score order (auto_linker.rs:259-264); tie-break
    # (dst, priority) makes the distributed order deterministic (SURVEY §7).
    # The order is total: (src, dst, relation) is unique after the pick above
    # and each relation of a pair comes from a rule with its own priority.
    order = [F.desc("score"), F.asc("dst"), F.asc("priority")]
    w_cap = Window.partitionBy("src").orderBy(*order)
    capped = (
        deduped.withColumn("cap_rn", F.row_number().over(w_cap))
        .filter(F.col("cap_rn") <= cfg.max_edges_per_node)
        .drop("cap_rn")
    )
    if max_edges is not None:
        # per-cycle global cap in the per-node cap's order, led by src
        capped = capped.orderBy(F.asc("src"), *order).limit(max_edges)

    ts = F.to_timestamp(F.lit(run_ts.strftime("%Y-%m-%d %H:%M:%S")))
    return capped.select(
        edge_id().alias("edge_id"),
        "src",
        "dst",
        "relation",
        F.col("weight").cast("float").alias("weight"),
        F.struct(
            F.col("ptype").alias("ptype"),
            F.col("detail").alias("detail"),
            F.col("pscore").alias("score"),
        ).alias("provenance"),
        ts.alias("created_at"),
        ts.alias("updated_at"),
    )


def ann_candidates(
    nodes: DataFrame,
    config: LinkerConfig | None = None,
    use_lsh: bool = True,
    lsh_kwargs: dict | None = None,
) -> DataFrame:
    """Per-node top-k neighbor scan (the reference's HNSW `search(embedding,
    100)`, auto_linker.rs:220-221) over the linkable nodes: (a_id, b_id,
    score), ties broken on the lower neighbor id. LSH path: the bucketed
    GEMM, candidate_topk (`lsh_kwargs` go to it). Exact path: the package's
    exact scan, ann_topk_bruteforce, with the nodes as both corpus and
    queries (the reference's brute-force search, vector/index.rs:258-295).

    Compute once (and `.localCheckpoint()`) to share between the linker and
    the dedup scanner — both consume the same candidate structure.
    """
    # imported here: dataops.ann imports the linker package, which imports
    # this module
    from cortex_spark.dataops.ann import ann_topk_bruteforce

    cfg = config or LinkerConfig()
    live = linkable(nodes)
    if use_lsh:
        return candidate_topk(live, k=cfg.ann_k, **(lsh_kwargs or {}))
    top = ann_topk_bruteforce(live, live, cfg.ann_k, corpus_id="node_id", query_id="node_id")
    return top.select(F.col("query_id").alias("a_id"), F.col("neighbor_id").alias("b_id"), "score")


def link_nodes(
    nodes: DataFrame,
    config: LinkerConfig | None = None,
    run_ts: datetime | None = None,
    existing_edges: DataFrame | None = None,
    *,
    candidates: DataFrame,
) -> DataFrame:
    """Produce the edge (triple) DataFrame for the given node table from
    its per-node candidate pairs (`candidates`: ann_candidates output, or
    any (a_id, b_id, score) frame), so one candidate structure can serve
    both the linker and the dedup scanner.

    Pass `existing_edges` for incremental runs — proposals already present
    as (src, dst, relation) are dropped (J11, redb_storage.rs:812-827).
    """
    cfg = config or LinkerConfig()
    run_ts = run_ts or datetime(2026, 1, 1, tzinfo=timezone.utc)
    proposed = apply_link_rules(_attach_attrs(candidates, linkable(nodes), cfg), cfg)
    return link_tail(proposed, cfg, run_ts, existing_edges)
