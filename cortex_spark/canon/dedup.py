"""Near-duplicate detection + action decision (reference linker/dedup.rs).

- dedup_pairs (J13): the linker's per-node candidates at dedup_threshold
  (0.92 default, vector/config.rs), canonical unordered pair key
  (dedup.rs:96-106).
- dedup_actions (A4): exact reference precedence (dedup.rs:130-177):
    1. connections: a_conn > 2·b_conn (or vice versa) → Merge, keep the
       better-connected node
    2. |Δimportance| > 0.3 → Merge, keep the more important node
    3. similarity ≥ 0.98 → Supersede newer→older
    4. else Link (related_to edge, AutoDedup provenance)

Connection counts come from the degree aggregate (graph.degree) over the
current edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.graph.degree import degree

SUPERSEDE_SIM = 0.98
IMPORTANCE_GAP = 0.3


def dedup_pairs(candidates: DataFrame, dedup_threshold: float = 0.92) -> DataFrame:
    """Canonical (a_id < b_id) near-duplicate pairs with cosine ≥
    threshold: (a_id, b_id, score).

    A threshold search over `candidates`, a per-node top-k frame
    (linker.pipeline.ann_candidates output, which the linker reads too),
    since threshold-grade pairs are always within a node's top neighbors;
    each unordered pair keeps its max score.
    """
    return (
        candidates.filter(F.col("score") >= dedup_threshold)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "score",
        )
        .groupBy("a_id", "b_id")
        .agg(F.max("score").alias("score"))
    )


def dedup_actions(pairs: DataFrame, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Attach the reference action decision to each duplicate pair.

    Output: a_id, b_id, score, action ∈ {merge, supersede, link},
    keep, retire (null for link).
    """
    # the degree frame is referenced twice below (a-side and b-side joins)
    # and Spark re-executes the aggregation per reference — checkpoint the
    # small per-node result so the edge table is scanned once, not twice
    deg = degree(edges).localCheckpoint(eager=True)
    attrs = nodes.select("node_id", "importance", "created_at")
    pa = (
        pairs.join(attrs.select(F.col("node_id").alias("a_id"), F.col("importance").alias("a_imp"), F.col("created_at").alias("a_created")), "a_id")
        .join(attrs.select(F.col("node_id").alias("b_id"), F.col("importance").alias("b_imp"), F.col("created_at").alias("b_created")), "b_id")
        .join(deg.select(F.col("node_id").alias("a_id"), F.col("degree").alias("a_deg")), "a_id", "left")
        .join(deg.select(F.col("node_id").alias("b_id"), F.col("degree").alias("b_deg")), "b_id", "left")
        .fillna({"a_deg": 0, "b_deg": 0})
    )
    a_deg, b_deg = F.col("a_deg"), F.col("b_deg")
    a_imp, b_imp = F.col("a_imp"), F.col("b_imp")
    conn_branch = (a_deg > b_deg * 2) | (b_deg > a_deg * 2)
    imp_branch = F.abs(a_imp - b_imp) > IMPORTANCE_GAP
    sup_branch = F.col("score") >= SUPERSEDE_SIM
    newer = F.when(F.col("a_created") > F.col("b_created"), F.col("a_id")).otherwise(F.col("b_id"))
    older = F.when(F.col("a_created") > F.col("b_created"), F.col("b_id")).otherwise(F.col("a_id"))

    return pa.select(
        "a_id",
        "b_id",
        "score",
        F.when(conn_branch, F.lit("merge"))
        .when(imp_branch, F.lit("merge"))
        .when(sup_branch, F.lit("supersede"))
        .otherwise(F.lit("link"))
        .alias("action"),
        F.when(conn_branch, F.when(a_deg > b_deg, F.col("a_id")).otherwise(F.col("b_id")))
        .when(imp_branch, F.when(a_imp > b_imp, F.col("a_id")).otherwise(F.col("b_id")))
        .when(sup_branch, newer)
        .alias("keep"),
        F.when(conn_branch, F.when(a_deg > b_deg, F.col("b_id")).otherwise(F.col("a_id")))
        .when(imp_branch, F.when(a_imp > b_imp, F.col("b_id")).otherwise(F.col("a_id")))
        .when(sup_branch, older)
        .alias("retire"),
    )
