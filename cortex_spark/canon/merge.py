"""Canonicalization: apply dedup actions to the node/edge tables.

Distributed re-expression of DedupScanner::execute_action / merge_nodes
(linker/dedup.rs:185-330):

- merge:      retire → keep. Merge chains (A keeps B, B keeps C) collapse
              via connected components over the merge pairs; the component
              representative is chosen by (degree desc, importance desc,
              node_id asc) — the reference applies pairwise merges in scan
              order, which is not reproducible distributed, so the rep rule
              is made deterministic and documented (SURVEY §7 hard part 2).
- edge rewrite (J14): redirect src/dst of every edge through the canonical
              map, drop would-be self-edges, dedup (src,dst,relation)
              (dedup.rs:233-278).
- node merge (A8): tags = union (order-preserving by first occurrence),
              metadata = keep-wins, importance = max (dedup.rs:296-318);
              retired nodes get tombstoned (deleted=true).
- supersede:  newer→older `supersedes` edge w=0.95, AutoDedup{similarity}
              (dedup.rs:190-208); merge also adds keep→retire supersedes
              with AutoDedup{1.0} (dedup.rs:282-295).
- link:       related_to edge w=similarity, AutoDedup{similarity}
              (dedup.rs:210-227).

Documented divergence (same class as the rep rule above): duplicate
(src,dst,relation) dedup-emitted edges resolve by max(weight, sim), whereas
the reference's put_edge ignores DuplicateEdge so the first-applied edge in
scan order wins (dedup.rs:204-227, 282-295) — scan order is not
reproducible distributed, so the survivor is picked by value.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cortex_spark.canon.components import connected_components
from cortex_spark.graph.degree import degree
from cortex_spark.linker.pipeline import edge_id


def _ts_lit(run_ts: datetime):
    return F.to_timestamp(F.lit(run_ts.strftime("%Y-%m-%d %H:%M:%S")))


def canonical_map(actions: DataFrame, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """merge actions → (node_id, canonical) for every retired node.
    `actions` comes materialized (canonicalize checkpoints it)."""
    merges = actions.filter(F.col("action") == "merge").select("keep", "retire")
    if merges.isEmpty():
        return merges.sparkSession.createDataFrame([], "node_id string, canonical string")
    comp = connected_components(merges, src="keep", dst="retire")
    members = comp.join(degree(edges), "node_id", "left").join(
        nodes.select("node_id", "importance"), "node_id", "left"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last("degree"), F.desc_nulls_last("importance"), F.asc("node_id")
    )
    reps = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("component"), F.col("node_id").alias("canonical"))
    )
    return (
        comp.join(reps, "component")
        .filter(F.col("node_id") != F.col("canonical"))
        .select("node_id", "canonical")
    )


def _redirect(edges: DataFrame, cmap: DataFrame) -> DataFrame:
    """Redirect src/dst through the canonical map (J14), drop self-edges
    (no dedup)."""
    src_map = cmap.select(F.col("node_id").alias("src"), F.col("canonical").alias("src_c"))
    dst_map = cmap.select(F.col("node_id").alias("dst"), F.col("canonical").alias("dst_c"))
    return (
        edges.join(F.broadcast(src_map), "src", "left")
        .join(F.broadcast(dst_map), "dst", "left")
        .withColumn("src", F.coalesce(F.col("src_c"), F.col("src")))
        .withColumn("dst", F.coalesce(F.col("dst_c"), F.col("dst")))
        .drop("src_c", "dst_c")
        .filter(F.col("src") != F.col("dst"))
    )


def merge_node_attrs(nodes: DataFrame, cmap: DataFrame, run_ts: datetime) -> DataFrame:
    """Fold retired nodes' tags/metadata/importance into their canonical node
    (A8, dedup.rs:296-318) and tombstone the retired rows."""
    retired = nodes.join(
        cmap.withColumnRenamed("node_id", "nid"),
        nodes["node_id"] == F.col("nid"),
    ).select(
        F.col("canonical"),
        F.col("nid"),
        # null-safe: tags/metadata are nullable in the schema, and a null
        # inside the folds below would poison the whole accumulator
        # (concat(null, x) = null) — treat null as empty
        F.coalesce(F.col("tags"), F.array().cast("array<string>")).alias("tags"),
        F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>")).alias("metadata"),
        F.col("importance"),
    )
    by_nid = lambda l, r: F.when(l["nid"] < r["nid"], -1).when(l["nid"] > r["nid"], 1).otherwise(0)  # noqa: E731
    folded = retired.groupBy("canonical").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("nid"), F.col("tags"))), by_nid),
            F.array().cast("array<string>"),
            lambda acc, s: F.concat(acc, F.array_except(s["tags"], acc)),
        ).alias("r_tags"),
        # keep-wins fold in deterministic (node_id) order: earlier maps win
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("nid"), F.col("metadata"))), by_nid),
            F.create_map().cast("map<string,string>"),
            lambda acc, s: F.map_concat(
                acc, F.map_filter(s["metadata"], lambda k, _: ~F.array_contains(F.map_keys(acc), k))
            ),
        ).alias("r_meta"),
        F.max("importance").alias("r_imp"),
    )
    ts = _ts_lit(run_ts)
    merged = (
        nodes.join(folded, nodes["node_id"] == folded["canonical"], "left")
        .withColumn(
            "tags",
            F.when(
                F.col("canonical").isNotNull(),
                F.concat(
                    F.coalesce(F.col("tags"), F.array().cast("array<string>")),
                    F.array_except(
                        F.coalesce(F.col("r_tags"), F.array()),
                        F.coalesce(F.col("tags"), F.array().cast("array<string>")),
                    ),
                ),
            ).otherwise(F.col("tags")),
        )
        .withColumn(
            "metadata",
            F.when(
                F.col("canonical").isNotNull(),
                F.map_concat(
                    F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>")),
                    F.map_filter(
                        F.coalesce(F.col("r_meta"), F.create_map().cast("map<string,string>")),
                        lambda k, _: ~F.array_contains(
                            F.map_keys(F.coalesce(F.col("metadata"),
                                                  F.create_map().cast("map<string,string>"))), k),
                    ),
                ),
            ).otherwise(F.col("metadata")),
        )
        .withColumn(
            "importance",
            F.when(
                F.col("canonical").isNotNull(),
                F.greatest(F.col("importance"), F.coalesce(F.col("r_imp"), F.col("importance"))),
            )
            .otherwise(F.col("importance"))
            .cast("float"),
        )
        .withColumn(
            "updated_at",
            F.when(F.col("canonical").isNotNull(), ts).otherwise(F.col("updated_at")),
        )
        .drop("canonical", "r_tags", "r_meta", "r_imp")
    )
    tomb = cmap.select(F.col("node_id").alias("t_id"))
    return (
        merged.join(tomb, merged["node_id"] == tomb["t_id"], "left")
        .withColumn("deleted", F.when(F.col("t_id").isNotNull(), F.lit(True)).otherwise(F.col("deleted")))
        .drop("t_id")
    )


def dedup_edges_for_actions(actions: DataFrame, cmap: DataFrame, run_ts: datetime) -> DataFrame:
    """supersedes / related_to edges emitted by the dedup pass itself."""
    ts = _ts_lit(run_ts)

    def _mk(df: DataFrame, src, dst, rel: str, weight, sim) -> DataFrame:
        return df.select(
            src.alias("src"), dst.alias("dst"), F.lit(rel).alias("relation"),
            weight.cast("float").alias("weight"), sim.cast("float").alias("sim"),
        )

    merges = actions.filter(F.col("action") == "merge")
    sups = actions.filter(F.col("action") == "supersede")
    links = actions.filter(F.col("action") == "link")
    # supersedes edges deliberately point AT the tombstoned node — the
    # reference records the merge/supersede lineage this way (dedup.rs:282-295)
    sup_edges = _mk(merges, F.col("keep"), F.col("retire"), "supersedes", F.lit(0.95), F.lit(1.0)).unionByName(
        _mk(sups, F.col("keep"), F.col("retire"), "supersedes", F.lit(0.95), F.col("score"))
    )
    # link edges connect live nodes → redirect through the canonical map so
    # they never dangle on a tombstone
    link_edges = _redirect(
        _mk(links, F.col("a_id"), F.col("b_id"), "related_to", F.col("score"), F.col("score")), cmap
    )
    # deterministic survivor per (src,dst,relation): dropDuplicates keeps an
    # arrival-order row, so when a merge and a supersede emit the same pair
    # (sim 1.0 vs score) or two link pairs redirect to the same canonical
    # edge with different scores, the surviving weight would depend on
    # parallelism — the same arrival-order-ulp class of bug as the staged
    # 512k merge (BASELINE.md §Round-5 determinism leg). Highest (weight,
    # sim) wins; residual ties on both keys are only between byte-identical
    # rows (every output column derives from src/dst/relation/weight/sim),
    # which is why no further tie-break column is needed. Divergence from
    # the reference's scan-order first-wins: see the module docstring.
    w_dedup = Window.partitionBy("src", "dst", "relation").orderBy(
        F.desc("weight"), F.desc("sim")
    )
    out = (
        sup_edges.unionByName(link_edges)
        .withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return out.select(
        edge_id().alias("edge_id"),
        "src",
        "dst",
        "relation",
        "weight",
        F.struct(
            F.lit("auto_dedup").alias("ptype"),
            F.lit(None).cast("string").alias("detail"),
            F.col("sim").alias("score"),
        ).alias("provenance"),
        ts.alias("created_at"),
        ts.alias("updated_at"),
    )


def canonicalize(
    nodes: DataFrame,
    edges: DataFrame,
    actions: DataFrame,
    run_ts: datetime | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply all dedup actions; returns (nodes', edges', cmap), where cmap is
    the (node_id, canonical) map of every retired node (`canonical_map`)."""
    run_ts = run_ts or datetime(2026, 1, 1, tzinfo=timezone.utc)
    # actions is tiny (one row per dedup action) but its lineage is the full
    # dedup_actions plan; it is referenced by canonical_map (merge filter)
    # AND three filter branches inside dedup_edges_for_actions' union, and
    # Spark re-executes the shared subtree per reference. One eager
    # materialization truncates all of them (same rationale as cmap below).
    actions = actions.localCheckpoint(eager=True)
    # cmap fans out into SIX plan references downstream (src/dst maps of
    # both _redirect calls — the edge table's and the dedup link edges' —
    # fold + tombstone in
    # merge_node_attrs) and Spark re-executes a referenced subtree per
    # reference — without the checkpoint the whole canonical_map lineage
    # (components + degree + rep window) ran up to 6x per action. The map is
    # small (retired nodes only; it is broadcast two lines down), so the
    # eager materialization is one cheap job that truncates all six.
    cmap = canonical_map(actions, nodes, edges).localCheckpoint(eager=True)
    # J14 edge rewrite (dedup.rs:233-278) and the dedup edges in ONE
    # aggregation: tag redirected rows pri=0 and dedup-emitted rows pri=1
    # and take min_by (pri, created_at, edge_id) per (src,dst,relation). A
    # group holding any redirected row keeps its earliest redirected row
    # (edge_id is unique, so that order is total) and discards the dedup
    # row; a dedup-only group keeps its single row.
    redirected = _redirect(edges, cmap).withColumn("_pri", F.lit(0))
    dedup_e = dedup_edges_for_actions(actions, cmap, run_ts).withColumn("_pri", F.lit(1))
    unioned = redirected.unionByName(dedup_e)
    keys = ("src", "dst", "relation")
    out_cols = [c for c in edges.columns]
    val_cols = [c for c in out_cols if c not in keys]
    picked = unioned.groupBy(*keys).agg(
        F.min_by(
            F.struct(*val_cols),
            F.struct(F.col("_pri"), F.col("created_at"), F.col("edge_id")),
        ).alias("p")
    )
    all_edges = picked.select(
        *[F.col(c) if c in keys else F.col(f"p.{c}").alias(c) for c in out_cols]
    )
    new_nodes = merge_node_attrs(nodes, cmap, run_ts)
    return new_nodes, all_edges, cmap
