"""generate_briefing against the per-section Spark walk it replaced.

`_oracle_briefing` is the earlier implementation, kept verbatim: every
section is ranked, then walked in order with a left-anti join against a
`seen` frame, an eager checkpoint and a count per section, and a closing
window numbers `section_rank`. The driver-side walk must return the same
rows, in (section, section_rank) order.
"""

from __future__ import annotations

import os
import subprocess
import sys
from datetime import datetime, timedelta

from conftest import make_edge, make_node
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.briefing import GLOBAL_CAP, generate_briefing
from cortex_spark.graph.traverse import bfs
from cortex_spark.schemas import DEFAULT_KINDS

NOW = datetime(2026, 2, 1)


def _oracle_briefing(nodes: DataFrame, edges: DataFrame, agent: str, now: datetime) -> DataFrame:
    MIN_IMPORTANCE, PER_SECTION, RECENT_HOURS = 0.3, 10, 48
    RANK_ORDER = (F.desc("importance"), F.desc("access_count"), F.asc("node_id"))

    def _rank(df: DataFrame, limit: int = PER_SECTION) -> DataFrame:
        return (
            df.filter(F.col("importance") >= MIN_IMPORTANCE)
            .orderBy(*RANK_ORDER)
            .limit(limit)
        )

    spark = nodes.sparkSession
    live = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
    base_cols = ["node_id", "kind", "title", "body", "importance", "access_count", "created_at"]

    sections: list[tuple[str, DataFrame]] = []
    agent_nodes = live.filter(F.col("source_agent") == agent)
    sections.append(("identity", _rank(agent_nodes.filter(F.col("kind").isin("agent", "preference")).select(*base_cols))))
    sections.append(("goals", _rank(agent_nodes.filter(F.col("kind") == "goal").select(*base_cols))))

    pattern_ids = agent_nodes.filter(F.col("kind") == "pattern").select("node_id")
    if not pattern_ids.isEmpty():
        hood = bfs(edges, pattern_ids, max_depth=2, relation=["applies_to", "instance_of"])
        patt = live.join(hood.select("node_id"), "node_id").select(*base_cols)
    else:
        patt = agent_nodes.filter(F.col("kind") == "pattern").select(*base_cols)
    sections.append(("patterns", _rank(patt)))

    contra_ids = (
        edges.filter(F.col("relation") == "contradicts")
        .select(F.explode(F.array("src", "dst")).alias("node_id"))
        .distinct()
    )
    sections.append(("contradictions", _rank(live.join(contra_ids, "node_id").select(*base_cols))))

    cutoff = F.lit((now - timedelta(hours=RECENT_HOURS)).strftime("%Y-%m-%d %H:%M:%S"))
    sections.append(
        ("recent_events", _rank(agent_nodes.filter((F.col("kind") == "event") & (F.col("created_at") >= F.to_timestamp(cutoff))).select(*base_cols)))
    )

    sections.append(
        (
            "active_context",
            agent_nodes.filter(F.col("importance") >= MIN_IMPORTANCE)
            .orderBy(F.desc("created_at"), F.asc("node_id"))
            .limit(PER_SECTION)
            .select(*base_cols),
        )
    )

    novel = (
        live.filter(~F.col("kind").isin(DEFAULT_KINDS))
        .groupBy("kind")
        .agg(F.sum("importance").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("kind"))
        .collect()
    )
    for row in novel:
        sections.append((f"more_{row['kind']}", _rank(live.filter(F.col("kind") == row["kind"]).select(*base_cols))))

    seen = spark.createDataFrame([], "node_id string")
    out = None
    remaining = GLOBAL_CAP
    for idx, (name, sec) in enumerate(sections):
        if remaining <= 0:
            break
        order = (F.desc("created_at"), F.asc("node_id")) if name == "active_context" else RANK_ORDER
        picked = sec.join(seen, "node_id", "left_anti").orderBy(*order).limit(remaining)
        picked = picked.localCheckpoint(eager=True)
        n = picked.count()
        if n == 0:
            continue
        remaining -= n
        seen = seen.unionByName(picked.select("node_id")).localCheckpoint(eager=True)
        labeled = picked.withColumn("section", F.lit(name)).withColumn("section_idx", F.lit(idx))
        out = labeled if out is None else out.unionByName(labeled)
    if out is None:
        return spark.createDataFrame(
            [],
            "node_id string, kind string, title string, body string, importance float, "
            "access_count bigint, section string, section_idx int, section_rank int",
        )
    from pyspark.sql import Window

    w = Window.partitionBy("section").orderBy(F.desc("importance"), F.desc("access_count"), F.asc("node_id"))
    return out.withColumn("section_rank", F.row_number().over(w)).select(
        "section", "section_idx", "section_rank", "node_id", "kind", "title", "body", "importance"
    )


def _assert_matches_oracle(nodes: DataFrame, edges: DataFrame, agent: str) -> list:
    got = generate_briefing(nodes, edges, agent, now=NOW)
    want = _oracle_briefing(nodes, edges, agent, now=NOW)
    assert got.columns == want.columns
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    rows = got.collect()
    assert rows == want.orderBy("section", "section_rank").collect()
    return rows


def _node(node_id, created_at="2026-01-01 00:00:00", **kw):
    """make_node, with a null `created_at` allowed."""
    row = list(make_node(node_id, created_at=created_at or "2026-01-01 00:00:00", **kw))
    if created_at is None:
        row[13] = row[14] = None  # created_at, updated_at
    return tuple(row)


def _world() -> tuple[list, list]:
    """59 candidates for the 50-row cap. g0 is ranked in goals and in
    patterns, g1 in goals and in contradictions; the cap cuts inside
    more_tool, and more_place (the smaller Σ importance) gets no row."""
    n, e = [], []
    for i in range(10):  # identity: equal importance, access_count decides
        n.append(_node(f"id{i}", kind="agent" if i % 2 else "preference", importance=0.6,
                       access_count=None if i in (3, 7) else i % 4, source_agent="kai"))
    for i in range(12):  # goals: a tie pair with a null access_count; g11 below 0.3
        imp = 0.25 if i == 11 else 0.9 - 0.05 * (i // 2)
        n.append(_node(f"g{i}", kind="goal", importance=imp,
                       access_count=None if i == 4 else i, source_agent="kai"))
    n.append(_node("pat0", kind="pattern", importance=0.95, source_agent="kai"))
    for i in range(7):
        n.append(_node(f"zf{i}", kind="fact", importance=0.4 + 0.05 * i, source_agent="zoe"))
    # pattern BFS: depth 1 zf0..zf3 and g0, depth 2 zf4; zf5 is depth 3 and
    # zf6 hangs off a relation the BFS does not follow
    e += [make_edge("pat0", f"zf{i}", "applies_to") for i in range(4)]
    e += [make_edge("pat0", "g0", "applies_to"), make_edge("zf0", "zf4", "instance_of"),
          make_edge("zf4", "zf5", "applies_to"), make_edge("pat0", "zf6", "related_to")]
    for i in range(3):
        n.append(_node(f"zc{i}", kind="fact", importance=0.5, access_count=i, source_agent="zoe"))
    e += [make_edge("zc0", "g1", "contradicts"), make_edge("zc1", "zc2", "contradicts")]
    for i in range(5):  # recent events; ev4 is older than the 48 h window
        at = "2026-01-20 00:00:00" if i == 4 else f"2026-01-31 0{i}:00:00"
        n.append(_node(f"ev{i}", kind="event", importance=0.5, created_at=at,
                       access_count=None if i == 1 else 2, source_agent="kai"))
    n.append(_node("evnull", kind="event", importance=0.9, created_at=None, source_agent="kai"))
    for i in range(8):  # the agent's newest nodes, least important newest
        n.append(_node(f"new{i}", kind="fact", importance=0.9 - 0.05 * i,
                       created_at=f"2026-02-0{2 + i // 4} 0{i % 4}:00:00", source_agent="kai"))
    n.append(_node("nullts", kind="fact", importance=0.99, created_at=None, source_agent="kai"))
    for i in range(10):
        n.append(_node(f"tool{i}", kind="tool", importance=0.5 + 0.04 * i, access_count=i % 3, source_agent="zoe"))
    for i in range(6):
        n.append(_node(f"place{i}", kind="place", importance=0.7, access_count=i, source_agent="zoe"))
    return n, e


def test_world_matches_oracle(spark, nodes_df_factory, edges_df_factory):
    n, e = _world()
    rows = _assert_matches_oracle(nodes_df_factory(n), edges_df_factory(e), "kai")
    assert len(rows) == GLOBAL_CAP
    by_section: dict[str, list] = {}
    for r in rows:
        by_section.setdefault(r["section"], []).append(r["node_id"])
    assert "g0" in by_section["goals"] and "g0" not in by_section["patterns"]
    assert "g1" in by_section["goals"] and "g1" not in by_section["contradictions"]
    assert {"pat0", "zf4"} <= set(by_section["patterns"]) and "zf5" not in by_section["patterns"]
    assert 0 < len(by_section["more_tool"]) < 10 and "more_place" not in by_section


def test_cap_cuts_active_context_by_recency(spark, nodes_df_factory, edges_df_factory):
    """45 rows before active_context: its 5 rows are the newest 5, not the
    most important 5."""
    n, e = [], []
    for i in range(10):
        n.append(_node(f"id{i}", kind="agent", importance=0.5, source_agent="kai"))
        n.append(_node(f"g{i}", kind="goal", importance=0.5, source_agent="kai"))
        n.append(_node(f"ev{i}", kind="event", importance=0.5, created_at=f"2026-01-31 0{i}:00:00", source_agent="kai"))
        n.append(_node(f"c{i}", kind="fact", importance=0.5, source_agent="zoe"))
        n.append(_node(f"new{i}", kind="fact", importance=0.9 - 0.05 * i,
                       created_at=f"2026-02-02 0{i}:00:00", source_agent="kai"))
        e.append(make_edge(f"c{i}", f"c{(i + 1) % 10}", "contradicts"))
    for i in range(5):
        n.append(_node(f"pat{i}", kind="pattern", importance=0.5, source_agent="kai"))
    rows = _assert_matches_oracle(nodes_df_factory(n), edges_df_factory(e), "kai")
    active = [r["node_id"] for r in rows if r["section"] == "active_context"]
    assert active == ["new5", "new6", "new7", "new8", "new9"]


def test_double_importance_keeps_its_type(spark):
    """Novel kinds only, with a double importance (as q_briefing_rank feeds)."""
    nodes = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("node_id"),
        F.concat(F.lit("lang"), (F.col("id") % 3).cast("string")).alias("kind"),
        F.lit("t").alias("title"),
        F.lit("b").alias("body"),
        (F.lit(0.3) + F.col("id") / 97.0).alias("importance"),
        (F.col("id") % 7).alias("access_count"),
        F.lit("oracle").alias("source_agent"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(mins=F.col("id").cast("int"))).alias("created_at"),
        F.lit(False).alias("deleted"),
    )
    edges = spark.createDataFrame([], "src string, dst string, relation string")
    _assert_matches_oracle(nodes, edges, "oracle")
    assert dict(generate_briefing(nodes, edges, "oracle", now=NOW).dtypes)["importance"] == "double"


def test_empty_report_has_the_report_schema(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([_node("g0", kind="goal", importance=0.9, source_agent="kai")])
    edges = edges_df_factory([])
    empty = generate_briefing(nodes, edges, "nobody", now=NOW)
    full = generate_briefing(nodes, edges, "kai", now=NOW)
    assert empty.collect() == [] and full.count() == 1
    assert empty.schema == full.schema


def test_import_needs_no_spark_context():
    code = "import cortex_spark.briefing as b; from pyspark import SparkContext; assert SparkContext._active_spark_context is None"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)
