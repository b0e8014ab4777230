"""End-to-end pipeline: golden-triple reproducibility, checkpoint resume,
incremental anti-join, decay/retention jobs, hybrid search, briefing."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cortex_spark.corpus import synth_pages
from cortex_spark.decay import apply_decay, retention_sweep
from cortex_spark.extract.pipeline import pages_to_nodes
from cortex_spark.hybrid import hybrid_search, vector_search
from cortex_spark.linker.pipeline import ann_candidates, link_nodes
from tests.conftest import make_edge, make_node


@pytest.fixture(scope="module")
def small_world(spark):
    pages = synth_pages(spark, 80, seed=42)
    nodes = pages_to_nodes(pages, embed_dim=64).cache()
    edges = link_nodes(nodes, candidates=ann_candidates(nodes)).cache()
    return nodes, edges


def test_pipeline_deterministic(spark, small_world):
    nodes, edges = small_world
    pages2 = synth_pages(spark, 80, seed=42)
    nodes2 = pages_to_nodes(pages2, embed_dim=64)
    edges2 = link_nodes(nodes2, candidates=ann_candidates(nodes2))
    h1 = edges.select(F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)"))).first()[0]
    h2 = edges2.select(F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)"))).first()[0]
    assert h1 == h2 and edges.count() == edges2.count()


def test_lsh_triples_match_bruteforce_triples(spark):
    """P/R of the LSH path vs the exact-candidate path ≥ 0.95 (the bench's
    correctness analogue of the reference-parity golden check)."""
    pages = synth_pages(spark, 60, seed=7)
    nodes = pages_to_nodes(pages, embed_dim=64).cache()
    exact = {
        (r["src"], r["dst"], r["relation"])
        for r in link_nodes(nodes, candidates=ann_candidates(nodes, use_lsh=False)).select("src", "dst", "relation").collect()
    }
    approx = {
        (r["src"], r["dst"], r["relation"])
        for r in link_nodes(nodes, candidates=ann_candidates(nodes)).select("src", "dst", "relation").collect()
    }
    precision = len(exact & approx) / max(len(approx), 1)
    recall = len(exact & approx) / max(len(exact), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_incremental_anti_join(spark):
    # with caps disabled, re-linking against the existing edge table must
    # propose nothing new (J11); with caps, a re-run may admit the next-50
    # per node — faithful to auto_linker.rs:227-264 (existing_set filters
    # before the cap count), so assert the uncapped invariant.
    from cortex_spark.linker.rules import LinkerConfig

    pages = synth_pages(spark, 50, seed=3)
    nodes = pages_to_nodes(pages, embed_dim=64).cache()
    cfg = LinkerConfig(max_edges_per_node=10**9)
    cands = ann_candidates(nodes, cfg)
    edges = link_nodes(nodes, cfg, candidates=cands).cache()
    again = link_nodes(nodes, cfg, existing_edges=edges, candidates=cands)
    assert again.count() == 0


def test_per_node_cap(spark, small_world):
    _, edges = small_world
    top = edges.groupBy("src").count().agg(F.max("count")).first()[0]
    assert top <= 50


def test_decay_job(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([make_node("a", importance=0.0), make_node("b", importance=0.0)])
    edges = edges_df_factory(
        [
            make_edge("a", "b", weight=0.06, ptype="auto_similarity", updated_at="2025-01-01 00:00:00"),
            make_edge("b", "a", weight=0.9, ptype="manual", updated_at="2020-01-01 00:00:00"),
        ]
    )
    survivors, metrics = apply_decay(edges, nodes, now=datetime(2026, 1, 1))
    rows = {r["src"]: r["weight"] for r in survivors.collect()}
    assert "a" not in rows  # decayed below delete threshold after 1 year
    assert rows["b"] == pytest.approx(0.9)  # manual exempt
    assert metrics["deleted"] == 1


def test_retention_sweep(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory(
        [
            make_node("old_unlinked", created_at="2020-01-01 00:00:00", last_accessed_at="2020-01-01 00:00:00"),
            make_node("old_linked", created_at="2020-01-01 00:00:00", last_accessed_at="2020-01-01 00:00:00"),
            make_node("fresh", created_at="2026-01-01 00:00:00"),
            make_node("linker", created_at="2026-01-01 00:00:00"),
        ]
    )
    edges = edges_df_factory([make_edge("linker", "old_linked")])
    got = {r["node_id"] for r in retention_sweep(nodes, edges, now=datetime(2026, 2, 1), default_ttl_days=365).collect()}
    assert got == {"old_unlinked"}  # live inbound edge protects old_linked


def test_vector_and_hybrid_search(spark, small_world):
    nodes, edges = small_world
    sample = nodes.first()
    # query embeds raw text while nodes embed the composed input
    # (kind: title\nbody\ntags, vector/embedding.rs:113-131) — so self-match
    # is high but not exactly 1.0, same as the reference
    res = vector_search(nodes, sample["body"], k=5, embed_dim=64)
    rows5 = res.collect()
    assert sample["node_id"] in {r["node_id"] for r in rows5}
    assert rows5[0]["vector_score"] > 0.8

    anchors = [sample["node_id"]]
    hres = hybrid_search(nodes, edges, sample["body"], anchors=anchors, limit=5, embed_dim=64)
    rows = hres.collect()
    assert len(rows) == 5
    scores = [r["combined_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_briefing(spark, small_world):
    from cortex_spark.briefing import generate_briefing

    nodes, edges = small_world
    agent = nodes.first()["source_agent"]
    rep = generate_briefing(nodes, edges, agent, now=datetime(2026, 4, 1))
    rows = rep.collect()
    assert 0 < len(rows) <= 50
    # a node appears in at most one section (seen-set exclusion, U2)
    ids = [r["node_id"] for r in rows]
    assert len(ids) == len(set(ids))


def test_checkpoint_resume(spark, tmp_path):
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    pages = synth_pages(spark, 40, seed=9)
    cfg = PipelineConfig(embed_dim=64)
    s1 = run_pipeline(spark, pages, str(tmp_path / "kg"), cfg)
    s2 = run_pipeline(spark, pages, str(tmp_path / "kg"), cfg)
    assert all(v["resumed"] for v in s2["stages"].values())
    assert {k: v["rows"] for k, v in s1["stages"].items()} == {k: v["rows"] for k, v in s2["stages"].items()}
    # config change invalidates checkpoints (auto_linker.rs:137-182 analogue)
    cfg2 = PipelineConfig(embed_dim=64, lsh_bands=4)
    s3 = run_pipeline(spark, pages, str(tmp_path / "kg"), cfg2)
    assert not s3["stages"]["edges"]["resumed"]


def test_config_rules_keep_the_config_hash(spark, tmp_path):
    """Linking with a config rule leaves the config (and so its hash) as it
    was: a second run of the same config object resumes every stage."""
    from cortex_spark.linker.rules import ConfigRule, LinkerConfig
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    rule = ConfigRule(name="mentions", relation="mentions", condition="body_field_contains", field="refs")
    cfg = PipelineConfig(embed_dim=64, linker=LinkerConfig(config_rules=[rule]))
    h = cfg.hash()
    pages = synth_pages(spark, 40, seed=9)
    s1 = run_pipeline(spark, pages, str(tmp_path / "kg"), cfg)
    assert cfg.hash() == h == s1["config_hash"]
    s2 = run_pipeline(spark, pages, str(tmp_path / "kg"), cfg)
    assert all(v["resumed"] for v in s2["stages"].values())
