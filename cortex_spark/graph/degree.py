"""Degree aggregates (SURVEY §2.5 A3), skew-safe.

degree = |out| + |in| (engine.rs:51; dedup.rs:180-183); most_connected =
top-N by degree (engine.rs:303-326). Each edge explodes into its two
endpoints and one count aggregates them — partial (map-side) aggregation
handles hot entities before the single shuffle (a self-loop counts 2);
the final top-N is a TakeOrdered, no full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def most_connected(nodes: DataFrame, edges: DataFrame, n: int = 10) -> DataFrame:
    """Top-N live nodes by degree, deterministic tie-break on node_id."""
    return (
        degree(edges)
        .join(nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False))).select("node_id", "kind", "title"), "node_id")
        .orderBy(F.desc("degree"), F.asc("node_id"))
        .limit(n)
    )
