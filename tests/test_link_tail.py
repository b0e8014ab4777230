"""Batch linking and the incremental cycle share one link tail
(linker.pipeline.link_tail), and run_pipeline canonicalizes once per build."""

from __future__ import annotations

import json
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from cortex_spark.linker.index import LshIndexStore
from cortex_spark.linker.rules import ConfigRule, LinkerConfig
from tests.conftest import make_node

NOW = datetime(2026, 1, 2)
FRESH = "2026-01-01 12:00:00"  # after the first cycle's cursor (NOW − 24 h)
UNCAPPED = 10**6


def _edge_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cycle_pairs(nodes, k):
    """run_cycle's candidate pairs when every node is fresh: the fresh nodes
    probe an index of the whole live table (ann_topk_lsh runs the index
    probe's kernel over signatures it computes in memory)."""
    from cortex_spark.dataops.ann import ann_topk_lsh

    vecs = nodes.select(F.col("node_id").alias("vec_id"), "embedding")
    return ann_topk_lsh(vecs, vecs, k=k).select(
        F.col("query_id").alias("a_id"), F.col("neighbor_id").alias("b_id"), "score"
    )


def test_run_cycle_body_rule_matches_link_nodes(spark, nodes_df_factory, edges_df_factory, tmp_path):
    """A config rule that reads `body` runs in the cycle (it used to fail with
    an unresolved a_body column) and yields batch linking's edges."""
    from cortex_spark.linker.pipeline import link_nodes
    from cortex_spark.pipeline.incremental import run_cycle

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(2, 16))
    titles = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i, title in enumerate(titles):
        vec = centers[i % 2] + 0.05 * rng.normal(size=16)
        body = json.dumps({"refs": " ".join(titles[(i + 1) % 8 : (i + 1) % 8 + 4])})
        rows.append(
            make_node(f"n{i}", title=title, body=body, embedding=[float(x) for x in vec], created_at=FRESH)
        )
    nodes = nodes_df_factory(rows)
    cfg = LinkerConfig(
        max_edges_per_node=UNCAPPED,
        config_rules=[
            ConfigRule(name="mentions", relation="mentions", condition="body_field_contains", field="refs")
        ],
    )

    cycle_edges, metrics = run_cycle(
        nodes, edges_df_factory([]), str(tmp_path / "meta.json"), cfg, now=NOW,
        max_edges_per_cycle=UNCAPPED,
        index_store=LshIndexStore(str(tmp_path / "idx"), spark, dim=16),
    )
    batch_edges = link_nodes(nodes, cfg, run_ts=NOW, candidates=_cycle_pairs(nodes, cfg.ann_k))

    assert metrics["nodes_processed"] == len(rows)
    got = _edge_rows(cycle_edges)
    assert got == _edge_rows(batch_edges)
    assert any(r[3] == "mentions" for r in got)  # the body rule fired


def test_cycle_cap_cuts_a_pair_by_priority(spark, nodes_df_factory, edges_df_factory, tmp_path):
    """The per-cycle cap's order is total: when it falls between relations of
    one (src, dst) pair at one score, the lower-priority rule's edge stays."""
    from cortex_spark.pipeline.incremental import run_cycle

    vec = [1.0] + [0.0] * 15
    nodes = nodes_df_factory(
        [
            make_node("old", embedding=vec, created_at="2025-06-01 00:00:00"),
            make_node("new", embedding=vec, created_at=FRESH),
        ]
    )
    # priorities: related_to (similarity) 0, uses 10, cites 11
    cfg = LinkerConfig(
        config_rules=[
            ConfigRule(name="r_uses", relation="uses", condition="always"),
            ConfigRule(name="r_cites", relation="cites", condition="always"),
        ]
    )
    kept = {}
    for cap in (1, 2, 3):
        edges, _ = run_cycle(
            nodes, edges_df_factory([]), str(tmp_path / f"meta{cap}.json"), cfg, now=NOW,
            max_edges_per_cycle=cap,
            index_store=LshIndexStore(str(tmp_path / f"idx{cap}"), spark, dim=16),
        )
        kept[cap] = {(r["src"], r["dst"], r["relation"]) for r in edges.collect()}
    assert kept[1] == {("new", "old", "related_to")}
    assert kept[2] == {("new", "old", "related_to"), ("new", "old", "uses")}
    assert kept[3] == kept[2] | {("new", "old", "cites")}


def test_run_pipeline_canonicalizes_once(spark, tmp_path, monkeypatch):
    """The canonical stages and the audit log share one canonical map."""
    import cortex_spark.canon.merge as merge
    from cortex_spark.corpus import synth_pages
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    calls = []
    canonical_map = merge.canonical_map

    def counted(*args, **kwargs):
        calls.append(1)
        return canonical_map(*args, **kwargs)

    monkeypatch.setattr(merge, "canonical_map", counted)
    summary = run_pipeline(spark, synth_pages(spark, 40, seed=9), str(tmp_path / "kg"), PipelineConfig(embed_dim=64))
    assert len(calls) == 1
    assert summary["audit_rows"] > summary["stages"]["nodes"]["rows"]


def test_cycle_metrics_from_one_pass_each(spark, nodes_df_factory, edges_df_factory, tmp_path):
    """run_cycle takes its counts from one aggregate over the fresh nodes and
    one collect of the per-source edge counts; the metrics equal the
    separate counts they replace, on a cycle where one fresh node gets ≥ 30
    edges (a generic-content node)."""
    from cortex_spark.pipeline.incremental import GENERIC_CONTENT_THRESHOLD, run_cycle

    rng = np.random.default_rng(5)
    hub, lone = np.eye(16)[0], np.eye(16)[1]

    def near(center, i):
        return make_node(
            f"{'h' if center is hub else 'l'}{i:02d}", created_at="2025-06-01 00:00:00",
            embedding=[float(x) for x in center + 0.02 * rng.normal(size=16)],
        )

    rows = [near(hub, i) for i in range(40)] + [near(lone, i) for i in range(3)]
    rows += [
        make_node("fresh_hub", embedding=[float(x) for x in hub], created_at=FRESH),
        make_node("fresh_lone", embedding=[float(x) for x in lone], created_at="2026-01-01 13:00:00"),
    ]
    nodes = nodes_df_factory(rows)
    edges, metrics = run_cycle(
        nodes, edges_df_factory([]), str(tmp_path / "meta.json"), now=NOW,
        index_store=LshIndexStore(str(tmp_path / "idx"), spark, dim=16),
    )

    per_src = edges.groupBy("src").count()
    want = {
        "nodes_processed": 2,
        "edges_created": edges.count(),
        "generic_content_nodes": per_src.filter(F.col("count") >= GENERIC_CONTENT_THRESHOLD).count(),
        "cursor": "2026-01-01T13:00:00",
        "cycle": 1,
    }
    assert metrics == want
    assert [type(metrics[k]) for k in want] == [type(v) for v in want.values()]
    counts = {r["src"]: r["count"] for r in per_src.collect()}
    assert set(counts) == {"fresh_hub", "fresh_lone"}
    assert counts["fresh_hub"] >= GENERIC_CONTENT_THRESHOLD
