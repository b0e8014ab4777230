"""Round-2 features: retention eviction/min-score/purge, audit log, compact
briefing renderer, gate LSH path recall, persisted incremental LSH index."""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import make_edge, make_node


# --------------------------------------------------------------------------
# retention: max-node eviction (retention.rs:231-288, test :427)
# --------------------------------------------------------------------------


def test_eviction_strategy_oldest_lowest_importance(spark, nodes_df_factory):
    from cortex_spark.decay import eviction_candidates

    nodes = nodes_df_factory(
        [
            make_node("a", importance=0.9, created_at="2026-01-01 00:00:00"),
            make_node("b", importance=0.1, created_at="2026-01-03 00:00:00"),
            make_node("c", importance=0.1, created_at="2026-01-02 00:00:00"),  # older of the 0.1s
            make_node("d", importance=0.5, created_at="2026-01-01 00:00:00"),
            make_node("e", importance=0.2, created_at="2026-01-01 00:00:00", deleted=True),
        ]
    )
    # 4 live nodes, cap 2 → evict 2: lowest importance first, older first on tie
    out = {r["node_id"] for r in eviction_candidates(nodes, limit=2).collect()}
    assert out == {"c", "b"}
    # under the cap → nothing evicted; deleted nodes don't count as live
    assert eviction_candidates(nodes, limit=4).count() == 0


def test_eviction_two_phase_matches_global_sort(spark, nodes_df_factory):
    """The histogram-cutoff scale path is bit-identical to the global sort,
    including importance ties resolved by (created_at, node_id) inside the
    boundary bucket."""
    from cortex_spark.decay import eviction_candidates

    rows = []
    for i in range(120):
        rows.append(
            make_node(
                f"n{i:03d}",
                importance=(i % 7) / 10.0,  # heavy ties → boundary bucket matters
                created_at=f"2026-01-{(i % 27) + 1:02d} 00:00:00",
            )
        )
    nodes = nodes_df_factory(rows)
    for limit in (10, 50, 113, 119):
        single = {r["node_id"] for r in eviction_candidates(nodes, limit, two_phase=False).collect()}
        double = {r["node_id"] for r in eviction_candidates(nodes, limit, two_phase=True).collect()}
        assert double == single, f"limit={limit}"
        assert len(double) == 120 - limit


def test_eviction_unknown_strategy_rejected(spark, nodes_df_factory):
    from cortex_spark.decay import eviction_candidates

    nodes = nodes_df_factory([make_node("a")])
    with pytest.raises(ValueError, match="Unknown eviction strategy"):
        eviction_candidates(nodes, limit=0, strategy="random")


def test_apply_retention_ttl_then_cap(spark, nodes_df_factory, edges_df_factory):
    from cortex_spark.decay import apply_retention

    nodes = nodes_df_factory(
        [
            # expired: old + idle
            make_node("old", importance=0.4, created_at="2024-01-01 00:00:00", last_accessed_at="2024-01-01 00:00:00"),
            make_node("keep1", importance=0.9, created_at="2026-01-20 00:00:00", last_accessed_at="2026-01-20 00:00:00"),
            make_node("keep2", importance=0.3, created_at="2026-01-20 00:00:00", last_accessed_at="2026-01-20 00:00:00"),
            make_node("keep3", importance=0.6, created_at="2026-01-20 00:00:00", last_accessed_at="2026-01-20 00:00:00"),
        ]
    )
    edges = edges_df_factory([make_edge("keep1", "keep2")])
    nodes2, edges2, doomed = apply_retention(
        nodes, edges, now=datetime(2026, 2, 1), default_ttl_days=365, grace_days=30,
        max_nodes=2,
    )
    gone = {r["node_id"] for r in doomed.collect()}
    # ttl sweep takes 'old'; cap 2 evicts the lowest-importance survivor keep2
    assert gone == {"old", "keep2"}
    live = {r["node_id"] for r in nodes2.filter(~F.col("deleted")).collect()}
    assert live == {"keep1", "keep3"}
    # outbound edges of deleted nodes dropped; keep1's edge survives
    assert edges2.count() == 1


def test_retention_min_score_gate(spark, nodes_df_factory, edges_df_factory):
    from cortex_spark.decay import retention_sweep

    # both past TTL + grace; 'fresh_access' has enough access echo to stay
    nodes = nodes_df_factory(
        [
            make_node("lowrel", kind="event", created_at="2024-01-01 00:00:00",
                      last_accessed_at="2024-06-01 00:00:00", access_count=0),
            make_node("highrel", kind="event", created_at="2024-01-01 00:00:00",
                      last_accessed_at="2025-12-20 00:00:00", access_count=20),
        ]
    )
    edges = edges_df_factory([])
    now = datetime(2026, 2, 1)
    # relevance(raw=1, rb=1) = temporal·echo; event rate 0.05:
    # lowrel idle ~610 d → temporal = max(exp(-0.05·365), .1) = .1, echo 1 → 0.1
    # highrel idle ~43 d → temporal = exp(-.05·43) ≈ .116·... echo = 2.0 → ≥ 0.2
    out = {r["node_id"] for r in retention_sweep(
        nodes, edges, now, default_ttl_days=300, grace_days=30,
        min_score_by_kind={"event": 0.2},
    ).collect()}
    assert out == {"lowrel"}
    # without the score gate both are eligible
    out2 = {r["node_id"] for r in retention_sweep(
        nodes, edges, now, default_ttl_days=300, grace_days=30,
    ).collect()}
    assert out2 == {"lowrel", "highrel"}


def test_purge_expired(spark, nodes_df_factory):
    from cortex_spark.decay import purge_expired

    nodes = nodes_df_factory(
        [
            make_node("t_old", deleted=True, created_at="2025-10-01 00:00:00"),
            make_node("t_new", deleted=True, created_at="2026-01-25 00:00:00"),
            make_node("live", deleted=False, created_at="2025-10-01 00:00:00"),
        ]
    )
    out = {r["node_id"] for r in purge_expired(nodes, now=datetime(2026, 2, 1), grace_days=30).collect()}
    assert out == {"t_old"}  # soft-deleted + updated_at past grace only


# --------------------------------------------------------------------------
# audit log (policies/audit.rs)
# --------------------------------------------------------------------------


def test_audit_entries_and_query(spark, nodes_df_factory, tmp_path):
    from cortex_spark.audit import AuditLog, audit_entries

    nodes = nodes_df_factory([make_node("a"), make_node("b")])
    log = AuditLog(str(tmp_path / "audit"), spark)
    log.append(audit_entries(nodes, "node.created", datetime(2026, 1, 1), actor="ingest"))
    log.append(audit_entries(nodes.limit(1), "node.deleted", datetime(2026, 1, 2), actor="retention"))
    assert log.read().count() == 3
    assert log.query(action="node.created").count() == 2
    assert log.query(actor="retention").count() == 1
    assert log.query(since=datetime(2026, 1, 2)).count() == 1
    with pytest.raises(ValueError, match="unknown audit action"):
        audit_entries(nodes, "node.exploded", datetime(2026, 1, 1))


def test_pipeline_writes_audit_rows(spark, tmp_path):
    """node/edge create audit rows appear after a pipeline run."""
    from cortex_spark.audit import AuditLog
    from cortex_spark.corpus import synth_pages
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    pages = synth_pages(spark, 40, seed=3, partitions=2)
    cfg = PipelineConfig(embed_dim=32, lsh_planes=16, lsh_bands=8)
    summary = run_pipeline(spark, pages, str(tmp_path / "out"), cfg)
    log = AuditLog(str(tmp_path / "out" / "audit"), spark)
    by_action = {r["action"]: r["n"] for r in log.read().groupBy("action").agg(F.count("*").alias("n")).collect()}
    assert by_action.get("node.created", 0) == summary["stages"]["nodes"]["rows"]
    assert by_action.get("edge.created", 0) >= summary["stages"]["edges"]["rows"]
    assert summary["audit_rows"] == sum(by_action.values())


def test_audit_read_raises_on_a_corrupt_log(spark, tmp_path):
    """Only a log without data files reads as empty: a killed append's
    `_temporary` dir is not data, an unreadable data file is an error."""
    from cortex_spark.audit import AuditLog

    path = tmp_path / "audit"
    log = AuditLog(str(path), spark)
    assert log.read().count() == 0  # no directory yet
    (path / "_temporary" / "0").mkdir(parents=True)
    assert log.read().count() == 0
    (path / "part-x.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        log.read().count()


def test_pipeline_audit_rows_raise_on_a_corrupt_log(spark, tmp_path):
    """summary["audit_rows"] is the log's row count; a corrupt log file
    fails the summary as it fails AuditLog.read."""
    import pyarrow as pa

    from cortex_spark.audit import AuditLog
    from cortex_spark.corpus import synth_pages
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    out = tmp_path / "kg"
    pages = synth_pages(spark, 6, seed=1)
    cfg = PipelineConfig(embed_dim=32)
    summary = run_pipeline(spark, pages, str(out), cfg)
    assert summary["audit_rows"] == AuditLog(str(out / "audit"), spark).read().count() > 0
    (out / "audit" / "part-x.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        run_pipeline(spark, pages, str(out), cfg)  # every stage resumes


def test_canonicalization_audit_merge_and_tombstone(spark, nodes_df_factory, edges_df_factory):
    """merge → node.merged + node.deleted (tombstone) + edge.created rows."""
    from cortex_spark.audit import canonicalization_audit
    from cortex_spark.canon.merge import canonicalize

    # rep rule is (degree desc, importance desc, node_id asc): a carries the
    # edge so it wins the component representative election
    nodes = nodes_df_factory([make_node("a", importance=0.9), make_node("b"), make_node("c")])
    edges = edges_df_factory([make_edge("a", "c")])
    actions = spark.createDataFrame(
        [("merge", "a", "b", 0.99, "a", "b")],
        "action string, keep string, retire string, score double, a_id string, b_id string",
    )
    n2, e2, cmap = canonicalize(nodes, edges, actions, run_ts=datetime(2026, 1, 1))
    dedup_e = e2.filter(F.col("provenance.ptype") == "auto_dedup")
    audit = canonicalization_audit(nodes, cmap, dedup_e, datetime(2026, 1, 1))
    rows = {(r["action"], r["target_id"]) for r in audit.collect()}
    assert ("node.merged", "a") in rows  # keeper absorbed b
    assert ("node.deleted", "b") in rows  # tombstone
    assert any(a == "edge.created" for a, _ in rows)  # supersedes lineage edge
    # and the tombstone is real in the canonical node table
    assert n2.filter((F.col("node_id") == "b") & F.col("deleted")).count() == 1


# --------------------------------------------------------------------------
# compact briefing renderer (renderer.rs:79-110)
# --------------------------------------------------------------------------


def test_render_briefing_compact(spark, nodes_df_factory, edges_df_factory):
    from cortex_spark.briefing import generate_briefing, render_briefing_compact, render_briefing_markdown

    nodes = nodes_df_factory(
        [
            make_node("g1", kind="goal", title="Ship the thing", body="b" * 300, importance=0.9, source_agent="kai"),
            make_node("p1", kind="preference", title="Tabs not spaces", body="short", importance=0.8, source_agent="kai"),
        ]
    )
    rep = generate_briefing(nodes, edges_df_factory([]), "kai", now=datetime(2026, 2, 1))
    compact = render_briefing_compact(rep, agent="kai")
    assert compact.startswith("# kai\n")
    assert "## Goals\n" in compact and "- Ship the thing\n" in compact
    assert "b" * 10 not in compact  # compact = titles only, no body
    md = render_briefing_markdown(rep, agent="kai")
    assert md.startswith("# Briefing: kai\n")
    assert "- **Ship the thing**: " + "b" * 197 + "..." in md  # body_preview(200)
    # global char truncation with the reference's " [truncated]" annotation;
    # renderer.rs:35-37 subtracts a SUFFIX_LEN of 14 for the 12-char suffix,
    # so the truncated output is max_chars − 2 — quirk preserved
    short = render_briefing_compact(rep, agent="kai", max_chars=30)
    assert short.endswith(" [truncated]") and len(short) == 28


# --------------------------------------------------------------------------
# gate conflict check: LSH path recall vs brute force (gate.py)
# --------------------------------------------------------------------------


def _clustered_nodes(n_clusters: int, per_cluster: int, dim: int = 32, noise: float = 0.05):
    """Planted near-parallel clusters: intra-cluster cosine ≥ ~0.95."""
    rng = np.random.default_rng(11)
    rows = []
    for c in range(n_clusters):
        center = rng.standard_normal(dim)
        center /= np.linalg.norm(center)
        for i in range(per_cluster):
            v = center + noise * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((f"c{c}_{i}", c, [float(x) for x in v]))
    return rows


def _verdicts(incoming, existing, monkeypatch, lsh: bool) -> set:
    """conflict_verdicts with its path forced by the incoming-size rule:
    LSH_ABOVE_INCOMING patched to 0 sends any batch through the LSH probe."""
    from cortex_spark import gate

    monkeypatch.setattr(gate, "LSH_ABOVE_INCOMING", 0 if lsh else 10**9)
    return {(r["node_id"], r["gate_reason"]) for r in gate.conflict_verdicts(incoming, existing).collect()}


def test_gate_conflict_lsh_matches_bruteforce(spark, nodes_df_factory, monkeypatch):
    rows = _clustered_nodes(12, 4)
    # existing = first 3 of each cluster; incoming = the 4th (a near-dup)
    existing = nodes_df_factory(
        [make_node(rid, embedding=vec, source_agent=f"agent{c}") for rid, c, vec in rows if not rid.endswith("_3")]
    )
    incoming = nodes_df_factory(
        [make_node(rid, embedding=vec, source_agent=f"agent{c}") for rid, c, vec in rows if rid.endswith("_3")]
    )
    exact = _verdicts(incoming, existing, monkeypatch, lsh=False)
    approx = _verdicts(incoming, existing, monkeypatch, lsh=True)
    assert len(exact) == 12  # every incoming node is a near-duplicate
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"LSH gate recall {recall}"


def test_gate_lsh_scores_hot_buckets_past_the_cap(spark, nodes_df_factory, monkeypatch):
    """The gate's LSH path keeps every bucket whole: with the probe's
    hot-bucket cap patched below the fixture's fullest bucket, its verdicts
    are unchanged and still match brute force."""
    from cortex_spark.linker import lsh

    rows = _clustered_nodes(12, 4)
    ex_rows = [(rid, c, vec) for rid, c, vec in rows if not rid.endswith("_3")]
    existing = nodes_df_factory([make_node(rid, embedding=vec, source_agent=f"agent{c}") for rid, c, vec in ex_rows])
    incoming = nodes_df_factory(
        [make_node(rid, embedding=vec, source_agent=f"agent{c}") for rid, c, vec in rows if rid.endswith("_3")]
    )
    sizes: dict[int, int] = {}
    for sigs in lsh.band_signer(32, 16, 8, 7)(np.array([vec for _, _, vec in ex_rows])):
        for sig in sigs:
            sizes[int(sig)] = sizes.get(int(sig), 0) + 1
    cap = 2
    assert max(sizes.values()) > cap

    uncapped = _verdicts(incoming, existing, monkeypatch, lsh=True)
    exact = _verdicts(incoming, existing, monkeypatch, lsh=False)
    monkeypatch.setattr(lsh, "DEFAULT_MAX_BUCKET", cap)
    approx = _verdicts(incoming, existing, monkeypatch, lsh=True)
    assert approx == uncapped
    assert len(exact & approx) / len(exact) >= 0.95


# --------------------------------------------------------------------------
# persisted LSH index: incremental cycles don't re-bucket the corpus
# --------------------------------------------------------------------------


def _embed_rows(n: int, dim: int = 32, seed: int = 5, prefix: str = "n", created="2026-01-10 00:00:00"):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        out.append(make_node(f"{prefix}{i}", embedding=[float(x) for x in v], created_at=created))
    return out


def test_index_store_probe_matches_full_lsh(spark, nodes_df_factory, tmp_path):
    from cortex_spark.dataops.ann import ann_topk_lsh
    from cortex_spark.linker.index import LshIndexStore

    corpus = nodes_df_factory(_embed_rows(120, seed=5))
    fresh = nodes_df_factory(_embed_rows(10, seed=6, prefix="f"))
    store = LshIndexStore(str(tmp_path / "idx"), spark, dim=32)
    store.append(corpus)
    store.append(fresh)
    got = {
        (r["a_id"], r["b_id"], round(r["score"], 6))
        for r in store.probe(fresh, k=8).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], round(r["score"], 6))
        for r in ann_topk_lsh(
            corpus.unionByName(fresh).select(F.col("node_id").alias("vec_id"), "embedding"),
            fresh.select(F.col("node_id").alias("vec_id"), "embedding"),
            k=8,
        ).collect()
    }
    assert got == want


def test_index_probe_scores_newest_vector_version(spark, nodes_df_factory, tmp_path):
    """Updated-node semantics: after compact() only current vectors exist,
    so every probe score must equal cosine against the v2 embedding —
    never a stale v1 copy (append_seq versioning + compaction)."""
    from cortex_spark.functions.similarity import cosine_col
    from cortex_spark.linker.index import LshIndexStore

    v1_rows = _embed_rows(6, seed=21)
    store = LshIndexStore(str(tmp_path / "idx"), spark, dim=32)
    store.append(nodes_df_factory(v1_rows))
    # updated versions of the SAME node ids (different embeddings)
    v2_rows = [make_node(f"n{i}", embedding=r[6]) for i, r in enumerate(_embed_rows(6, seed=22))]
    v2 = nodes_df_factory(v2_rows)
    store.append(v2)
    survivors = store.compact()
    # only the newest version's signature rows survive compaction
    idx = spark.read.parquet(str(tmp_path / "idx" / "data"))
    assert idx.select("append_seq").distinct().collect() == [Row(append_seq=1)] or (
        idx.groupBy("node_id").agg(F.countDistinct("append_seq").alias("n"))
        .filter("n > 1").isEmpty()
    )
    assert survivors == idx.count()

    probe_q = nodes_df_factory(_embed_rows(3, seed=23, prefix="q"))
    got = {(r["a_id"], r["b_id"]): round(r["score"], 6) for r in store.probe(probe_q, k=6).collect()}
    expect = {
        (r["a_id"], r["b_id"]): round(r["score"], 6)
        for r in probe_q.select(F.col("node_id").alias("a_id"), F.col("embedding").alias("a_vec"))
        .crossJoin(v2.select(F.col("node_id").alias("b_id"), F.col("embedding").alias("b_vec")))
        .select("a_id", "b_id", cosine_col(F.col("a_vec"), F.col("b_vec")).alias("score"))
        .collect()
    }
    assert got, "probe returned nothing"
    for key, score in got.items():
        assert key in expect and expect[key] == score, (key, score, expect.get(key))


def test_run_cycle_with_index_scales_with_fresh_count(spark, nodes_df_factory, edges_df_factory, tmp_path):
    """Cycle cost ∝ fresh nodes: the index meta proves only the fresh slice
    was (re-)signed per cycle, and the emitted edges match the earlier
    index-less cycle, which re-bucketed the whole live table (kept here as
    the reference, through the earlier two-sided LSH join)."""
    from cortex_spark.linker.index import LshIndexStore
    from cortex_spark.linker.pipeline import _attach_attrs, link_tail, linkable
    from cortex_spark.linker.rules import LinkerConfig, apply_link_rules
    from cortex_spark.pipeline.incremental import MAX_EDGES_PER_CYCLE, run_cycle
    from tests.test_index_probe import _ann_lsh_oracle

    base = _embed_rows(80, seed=7, created="2026-01-10 00:00:00")
    # fresh nodes reuse base embeddings → the similarity rule actually fires
    # (cosine 1.0 vs the duplicated base node), so edge parity is non-vacuous
    base_vecs = [r[6] for r in base]  # make_node tuple: embedding at idx 6
    fresh1 = [
        make_node(f"f{i}", embedding=base_vecs[i], created_at="2026-01-20 12:00:00")
        for i in range(6)
    ]
    fresh2 = [
        make_node(f"g{i}", embedding=base_vecs[10 + i], created_at="2026-01-25 00:00:00")
        for i in range(4)
    ]
    empty_edges = edges_df_factory([])
    cfg = LinkerConfig()

    store = LshIndexStore(str(tmp_path / "idx"), spark, dim=32)
    nodes1 = nodes_df_factory(base + fresh1)
    e1, m1 = run_cycle(nodes1, empty_edges, str(tmp_path / "meta.json"),
                       cfg, now=datetime(2026, 1, 21), index_store=store)
    nodes2 = nodes_df_factory(base + fresh1 + fresh2)
    e2, m2 = run_cycle(nodes2, e1, str(tmp_path / "meta.json"),
                       cfg, now=datetime(2026, 1, 26), index_store=store)

    # appends: [backlog 80, fresh 6, fresh 4] — cycle 2 signed ONLY the 4
    assert store.meta()["appends"] == [80, 6, 4]

    def reference_cycle(nodes, fresh, existing, now):
        live = linkable(nodes)
        vecs = live.select(F.col("node_id").alias("vec_id"), "embedding")
        fresh_ids = [r[0] for r in fresh]  # make_node tuple: node_id at idx 0
        pairs = _ann_lsh_oracle(
            vecs, vecs.filter(F.col("vec_id").isin(fresh_ids)), k=cfg.ann_k
        ).select(F.col("query_id").alias("a_id"), F.col("neighbor_id").alias("b_id"), "score")
        proposed = apply_link_rules(_attach_attrs(pairs, live, cfg), cfg)
        return link_tail(proposed, cfg, now, existing, max_edges=MAX_EDGES_PER_CYCLE)

    r1 = reference_cycle(nodes1, fresh1, empty_edges, datetime(2026, 1, 21))
    r2 = reference_cycle(nodes2, fresh2, r1, datetime(2026, 1, 26))
    key = lambda df: {(r["src"], r["dst"], r["relation"]) for r in df.collect()}  # noqa: E731
    assert key(e1) == key(r1)
    assert key(e2) == key(r2)
    assert key(e1) and key(e2)


# --------------------------------------------------------------------------
# change feed / mutation hooks (hooks/mod.rs batch analogue)
# --------------------------------------------------------------------------


def test_snapshot_changes_and_hooks(spark, nodes_df_factory, edges_df_factory):
    from cortex_spark.changes import HookRegistry, snapshot_changes

    old_n = nodes_df_factory(
        [
            make_node("keep", created_at="2026-01-01 00:00:00"),
            make_node("upd", created_at="2026-01-01 00:00:00"),
            make_node("tomb", created_at="2026-01-01 00:00:00"),
            make_node("hard", created_at="2026-01-01 00:00:00"),
        ]
    )
    new_rows = [
        make_node("keep", created_at="2026-01-01 00:00:00"),
        make_node("new", created_at="2026-02-01 00:00:00"),
        make_node("tomb", created_at="2026-01-01 00:00:00", deleted=True),
    ]
    # 'upd' gets a later updated_at; 'hard' vanishes
    upd = list(make_node("upd", created_at="2026-01-01 00:00:00"))
    from tests.conftest import ts as _ts

    upd[14] = _ts("2026-02-02 00:00:00")  # updated_at
    new_n = nodes_df_factory(new_rows + [tuple(upd)])
    old_e = edges_df_factory([make_edge("keep", "upd"), make_edge("keep", "hard")])
    new_e = edges_df_factory([make_edge("keep", "upd"), make_edge("keep", "new")])

    ch = snapshot_changes(old_n, new_n, old_e, new_e)
    got = {(r["op"], r["target_id"]) for r in ch.collect()}
    assert got == {
        ("node_created", "new"),
        ("node_updated", "upd"),
        ("node_deleted", "tomb"),
        ("node_deleted", "hard"),
        ("edge_created", "keep-new-related_to"),
        ("edge_deleted", "keep-hard-related_to"),
    }

    seen: dict[str, int] = {}
    reg = HookRegistry()
    reg.register("node_created", lambda df: seen.__setitem__("created", df.count()))
    counts = reg.dispatch(ch)
    assert counts["node_created"] == 1 and counts["node_deleted"] == 2
    assert seen["created"] == 1


# --------------------------------------------------------------------------
# exact-order DFS (traversal.rs:190-315) — closes the G2 'partial'
# --------------------------------------------------------------------------


def test_dfs_visit_order_and_claim_semantics(spark, edges_df_factory):
    from cortex_spark.graph.traverse import dfs

    #      a ──1──> b ──2──> d
    #      a ──3──> c ──4──> d   (edge ids / created order = push order)
    edges = edges_df_factory(
        [
            make_edge("a", "b", created_at="2026-01-01 00:00:01"),
            make_edge("b", "d", created_at="2026-01-01 00:00:02"),
            make_edge("a", "c", created_at="2026-01-01 00:00:03"),
            make_edge("c", "d", created_at="2026-01-01 00:00:04"),
        ]
    )
    out, truncated = dfs(edges, ["a"], max_depth=3, direction="out")
    rows = sorted(out.collect(), key=lambda r: r["visit_order"])
    # recursive order: a, then a's first neighbor b, then b's subtree (d),
    # then a's second neighbor c — d already claimed by the b-branch
    assert [(r["node_id"], r["depth"]) for r in rows] == [
        ("a", 0), ("b", 1), ("d", 2), ("c", 1)
    ]
    assert not truncated


def test_dfs_deep_claim_blocks_shallow_path(spark, edges_df_factory):
    """visited-at-push: a node claimed via a deep branch at max_depth never
    expands, even though a later shallow path would have — the reference DFS
    node set genuinely differs from BFS here (traversal.rs:295-303)."""
    from cortex_spark.graph.traverse import bfs, dfs

    # a→p→q→X claims X at depth 3 (pushed while q expands) BEFORE the
    # shallower a→m→X path runs, because m is explored after the p-branch;
    # X at max_depth never expands, so X→y stays unreached.
    edges = edges_df_factory(
        [
            make_edge("a", "p", created_at="2026-01-01 00:00:01"),
            make_edge("p", "q", created_at="2026-01-01 00:00:02"),
            make_edge("q", "X", created_at="2026-01-01 00:00:03"),
            make_edge("a", "m", created_at="2026-01-01 00:00:04"),
            make_edge("m", "X", created_at="2026-01-01 00:00:05"),
            make_edge("X", "y", created_at="2026-01-01 00:00:06"),
        ]
    )
    out, _ = dfs(edges, ["a"], max_depth=3, direction="out")
    got = {(r["node_id"], r["depth"]) for r in out.collect()}
    assert ("X", 3) in got and not any(n == "y" for n, _ in got)  # X claimed deep
    bfs_got = {(r["node_id"], r["depth"]) for r in bfs(edges, ["a"], max_depth=3, direction="out").collect()}
    assert ("X", 2) in bfs_got and ("y", 3) in bfs_got  # BFS reaches y shallower


def test_dfs_budgets_and_limit(spark, edges_df_factory):
    from cortex_spark.graph.traverse import dfs

    edges = edges_df_factory(
        [make_edge("a", f"n{i}", created_at=f"2026-01-01 00:00:{i:02d}") for i in range(1, 10)]
    )
    out, truncated = dfs(edges, ["a"], max_depth=2, direction="out", limit=3)
    assert out.count() == 3 and truncated
    out2, trunc2 = dfs(edges, ["a"], max_depth=2, direction="out", max_visited=4)
    assert out2.count() == 4 and trunc2
    out3, _ = dfs(edges, ["a"], max_depth=2, direction="out", include_start=False)
    assert out3.filter("node_id = 'a'").count() == 0


def test_briefing_cache_version_and_ttl(spark, nodes_df_factory, edges_df_factory):
    """briefing/cache.rs semantics: hit while (version, TTL) hold; miss on
    version bump or expiry; invalidate drops the entry."""
    from datetime import datetime

    from cortex_spark.briefing import BriefingCache

    nodes = nodes_df_factory(
        [make_node("g1", kind="goal", source_agent="kai", importance=0.9)]
    )
    edges = edges_df_factory([])
    clock = {"t": 0.0}
    cache = BriefingCache(ttl_secs=10.0, clock=lambda: clock["t"])
    now = datetime(2026, 1, 1)

    r1 = cache.get_or_generate(nodes, edges, "kai", version=1, now=now)
    assert cache.misses == 1 and cache.hits == 0 and r1
    r2 = cache.get_or_generate(nodes, edges, "kai", version=1, now=now)
    assert cache.hits == 1 and r2 == r1          # served from cache
    assert cache.get("kai", current_version=2) is None   # version bump → miss
    clock["t"] = 11.0
    assert cache.get("kai", current_version=1) is None   # TTL expiry → miss
    cache.put("kai", r1, 1)
    clock["t"] = 12.0
    assert cache.get("kai", 1) == r1
    cache.invalidate("kai")
    assert cache.get("kai", 1) is None
