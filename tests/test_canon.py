"""Dedup action precedence (dedup.rs:130-177) and merge semantics
(dedup.rs:233-330): connections > importance gap > supersede@0.98 > link;
tag union / keep-wins metadata / max importance; edge rewrite self-drop."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from cortex_spark.canon.dedup import dedup_actions
from cortex_spark.canon.merge import canonicalize
from tests.conftest import make_edge, make_node


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "a_id string, b_id string, score double")


def _actions_for(spark, nodes_df_factory, edges_df_factory, pair_score, node_kw_a, node_kw_b, edge_rows):
    nodes = nodes_df_factory([make_node("A", **node_kw_a), make_node("B", **node_kw_b)])
    edges = edges_df_factory(edge_rows)
    pairs = _pairs(spark, [("A", "B", pair_score)])
    return dedup_actions(pairs, nodes, edges).first()


def test_connection_precedence(spark, nodes_df_factory, edges_df_factory):
    # A has 3 connections, B has 1 → 3 > 2·1 → merge keep A
    edge_rows = [make_edge("A", f"x{i}") for i in range(3)] + [make_edge("B", "x0")]
    r = _actions_for(spark, nodes_df_factory, edges_df_factory, 0.93, {}, {}, edge_rows)
    assert (r["action"], r["keep"], r["retire"]) == ("merge", "A", "B")


def test_connection_1_vs_0_triggers_merge(spark, nodes_df_factory, edges_df_factory):
    # reference: 1 > 0*2 → merge (strictness of `> * 2` with zero)
    r = _actions_for(spark, nodes_df_factory, edges_df_factory, 0.93, {}, {}, [make_edge("A", "x")])
    assert (r["action"], r["keep"]) == ("merge", "A")


def test_importance_gap_precedence(spark, nodes_df_factory, edges_df_factory):
    # equal connections; |0.9-0.5| > 0.3 → merge keep higher importance
    edge_rows = [make_edge("A", "x"), make_edge("B", "y")]
    r = _actions_for(
        spark, nodes_df_factory, edges_df_factory, 0.93,
        {"importance": 0.5}, {"importance": 0.9}, edge_rows,
    )
    assert (r["action"], r["keep"], r["retire"]) == ("merge", "B", "A")


def test_supersede_at_098(spark, nodes_df_factory, edges_df_factory):
    edge_rows = [make_edge("A", "x"), make_edge("B", "y")]
    r = _actions_for(
        spark, nodes_df_factory, edges_df_factory, 0.985,
        {"created_at": "2026-01-02 00:00:00"}, {"created_at": "2026-01-01 00:00:00"}, edge_rows,
    )
    assert (r["action"], r["keep"], r["retire"]) == ("supersede", "A", "B")


def test_link_fallback(spark, nodes_df_factory, edges_df_factory):
    edge_rows = [make_edge("A", "x"), make_edge("B", "y")]
    r = _actions_for(spark, nodes_df_factory, edges_df_factory, 0.93, {}, {}, edge_rows)
    assert r["action"] == "link" and r["keep"] is None


def test_canonicalize_merge_semantics(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory(
        [
            make_node("A", tags=["t1", "t2"], metadata={"k": "keepval", "ka": "a"}, importance=0.5),
            make_node("B", tags=["t2", "t3"], metadata={"k": "retval", "kb": "b"}, importance=0.7),
            make_node("C"),
        ]
    )
    edges = edges_df_factory(
        # A: 7 connections, B: 3 → 7 > 2·3 → merge keep A (dedup.rs:137-152)
        [make_edge("A", f"x{i}") for i in range(6)]
        + [
            make_edge("B", "C"),  # must be redirected to A→C
            make_edge("C", "B"),  # must become C→A
            make_edge("A", "B"),  # becomes self-edge → dropped
        ]
    )
    pairs = _pairs(spark, [("A", "B", 0.93)])
    actions = dedup_actions(pairs, nodes, edges)
    n2, e2, _ = canonicalize(nodes, edges, actions, run_ts=datetime(2026, 2, 1))

    a = n2.filter("node_id = 'A'").first()
    assert a["tags"] == ["t1", "t2", "t3"]  # order-preserving union (A8)
    assert a["metadata"]["k"] == "keepval"  # keep wins
    assert a["metadata"]["kb"] == "b"  # retired fills missing
    assert abs(a["importance"] - 0.7) < 1e-6  # max
    assert n2.filter("node_id = 'B'").first()["deleted"] is True  # tombstone

    e = {(r["src"], r["dst"], r["relation"]) for r in e2.collect()}
    assert ("A", "C", "related_to") in e  # B→C redirected
    assert ("C", "A", "related_to") in e  # C→B redirected
    assert ("A", "A", "related_to") not in e  # self-edge dropped
    assert ("A", "B", "supersedes") in e  # merge emits supersedes keep→retire
    assert not any(s == "B" or d == "B" for s, d, r in e if r != "supersedes")


def test_merge_chain_collapses_to_single_canonical(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([make_node(i) for i in ("A", "B", "C")])
    # A keeps B, B keeps C → all collapse to one canonical via CC
    edges = edges_df_factory([make_edge("A", "x1"), make_edge("A", "x2"), make_edge("A", "x3")])
    pairs = _pairs(spark, [("A", "B", 0.93), ("B", "C", 0.93)])
    actions = spark.createDataFrame(
        [("A", "B", 0.93, "merge", "A", "B"), ("B", "C", 0.93, "merge", "B", "C")],
        "a_id string, b_id string, score double, action string, keep string, retire string",
    )
    n2, e2, _ = canonicalize(nodes, edges, actions, run_ts=datetime(2026, 2, 1))
    tomb = {r["node_id"] for r in n2.filter("deleted").collect()}
    assert tomb == {"B", "C"}  # A is the rep (highest degree)


def test_dedup_edge_survivor_is_deterministic_max_weight(spark):
    """Duplicate (src,dst,relation) rows from two link actions that redirect
    to the same canonical pair must keep the HIGHEST (weight, sim) — not an
    arrival-order survivor, whose identity depends on parallelism (the 512k
    staged determinism incident, BASELINE.md §Round-5: dropDuplicates kept
    whichever ulp-variant arrived first)."""
    from cortex_spark.canon.merge import dedup_edges_for_actions

    actions = spark.createDataFrame(
        [
            ("link", None, None, "X1", "Y", 0.93),
            ("link", None, None, "X2", "Y", 0.97),  # redirects onto the same (C, Y)
        ],
        "action string, keep string, retire string, a_id string, b_id string, score double",
    )
    cmap = spark.createDataFrame(
        [("X1", "C"), ("X2", "C")], "node_id string, canonical string"
    )
    out = dedup_edges_for_actions(actions, cmap, datetime(2026, 1, 1)).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["src"], row["dst"], row["relation"]) == ("C", "Y", "related_to")
    assert abs(row["weight"] - 0.97) < 1e-6  # weight is float32
    assert abs(row["provenance"]["score"] - 0.97) < 1e-6
