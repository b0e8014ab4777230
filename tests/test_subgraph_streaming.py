"""topo sort / cycles (G11/G13), stats (A1), import/export (S8/S9),
streaming warren ingest (S4), incremental cursor cycle (§2.11)."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import functions as F

from cortex_spark.graph.subgraph import has_cycle, topo_layers, topo_sort
from cortex_spark.stats import count_nodes, stats
from tests.conftest import make_edge, make_node


def test_topo_sort_dag(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([make_node(i) for i in "abcd"])
    edges = edges_df_factory([make_edge("a", "b"), make_edge("a", "c"), make_edge("b", "d"), make_edge("c", "d")])
    order = topo_sort(nodes, edges)
    assert order is not None
    pos = {n: i for i, n in enumerate(order)}
    assert pos["a"] < pos["b"] < pos["d"] and pos["a"] < pos["c"] < pos["d"]


def test_topo_sort_cycle_returns_none(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([make_node(i) for i in "abc"])
    edges = edges_df_factory([make_edge("a", "b"), make_edge("b", "c"), make_edge("c", "a")])
    assert topo_sort(nodes, edges) is None
    assert has_cycle(nodes, edges)


def test_cycle_participants(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory([make_node(i) for i in "abcde"])
    edges = edges_df_factory(
        [make_edge("a", "b"), make_edge("b", "c"), make_edge("c", "b"), make_edge("c", "d"), make_edge("d", "e")]
    )
    layers, cyclic = topo_layers(nodes, edges)
    cyc = {r["node_id"] for r in cyclic.collect()}
    assert "b" in cyc and "c" in cyc and "a" not in cyc  # downstream d,e also stuck
    assert {r["node_id"] for r in layers.collect()} == {"a"}


def test_stats(spark, nodes_df_factory, edges_df_factory):
    nodes = nodes_df_factory(
        [make_node("a", kind="fact"), make_node("b", kind="goal"), make_node("c", kind="fact", deleted=True)]
    )
    edges = edges_df_factory([make_edge("a", "b"), make_edge("b", "a", relation="led_to")])
    s = stats(nodes, edges)
    assert s["node_count"] == 2
    assert s["nodes_by_kind"] == {"fact": 1, "goal": 1}
    assert s["edges_by_relation"] == {"related_to": 1, "led_to": 1}
    assert count_nodes(nodes, kinds=["fact"]) == 1
    assert count_nodes(nodes, kinds=["fact"], include_deleted=True) == 2


def test_import_and_export(spark, tmp_path, nodes_df_factory, edges_df_factory):
    from cortex_spark.io import export_graph, import_nodes_json

    src = tmp_path / "in.json"
    src.write_text(
        "\n".join(
            json.dumps(o)
            for o in [
                {"kind": "fact", "title": "Imported fact one", "body": "body text here", "importance": 0.4},
                {"title": "No kind given", "body": "defaults to fact"},
            ]
        )
    )
    got = import_nodes_json(spark, str(src), source="forge")
    rows = {r["title"]: r for r in got.collect()}
    assert rows["Imported fact one"]["kind"] == "fact"
    assert rows["No kind given"]["kind"] == "fact"
    assert rows["Imported fact one"]["metadata"]["imported_from"] == "forge"
    # idempotent ids
    again = {r["node_id"] for r in import_nodes_json(spark, str(src), source="forge").collect()}
    assert again == {r["node_id"] for r in rows.values()}

    nodes = nodes_df_factory([make_node("a"), make_node("gone", deleted=True)])
    edges = edges_df_factory([make_edge("a", "x")])
    export_graph(nodes, edges, str(tmp_path / "out"))
    back = spark.read.json(str(tmp_path / "out/nodes"))
    assert back.count() == 1 and "embedding" not in back.columns


def test_warren_streaming_ingest(spark, tmp_path):
    from cortex_spark.streaming.ingest import ingest_stream

    events = [
        {"type": "stage.advanced", "item_id": "i1", "stage": "review", "previous_stage": "draft"},
        {"type": "item.completed", "item_id": "i1", "title": "Widget", "evidence_count": 3},
        {"type": "gate.approved", "gate_id": "g1", "item_id": "i1", "stage": "review", "approved_by": "kai"},
        {"type": "gate.rejected", "gate_id": "g2", "item_id": "i2", "stage": "qa", "rejected_by": "ada", "reason": "flaky"},
        {"type": "evidence.submitted", "evidence_id": "e1", "item_id": "i1", "content": "strong supporting data observed", "submitted_by": "kai"},
        {"type": "interaction.created", "interaction_id": "x1", "agent_id": "kai", "content": "hello", "channel": "chat"},
        {"type": "task.picked", "task_id": "t1", "item_id": "i1", "picked_by": "ada"},
        {"type": "autonomy", "agent_id": "kai", "action": "requeued job", "context": "queue stalled"},
        {"type": "refinement", "refinement_id": "r1", "content": "tightened spec", "agent_id": "ada"},
        {"type": "stage.advanced", "item_id": "i1", "stage": "review", "previous_stage": "draft"},  # duplicate
        {"type": "unknown.event", "item_id": "zz"},  # ignored
    ]
    src = tmp_path / "events"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(json.dumps(e) for e in events))
    sink = str(tmp_path / "nodes")
    q = ingest_stream(spark, str(src), sink, str(tmp_path / "ckpt"), embed_dim=16)
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    rows = {r["title"]: r for r in out.collect()}
    assert len(rows) == 9  # dup dropped (title+session), unknown ignored
    assert rows["Item i1 advanced to review"]["kind"] == "event"
    assert rows["Item i1 advanced to review"]["body"] == "Item progressed from draft to review"
    assert rows["Approved: g1 gate for stage review"]["kind"] == "decision"
    assert abs(rows["Completed: Widget"]["importance"] - 0.8) < 1e-6
    assert rows["Autonomy: requeued job"]["source_session"] is None
    assert rows["Evidence: strong supporting data observed"]["kind"] == "fact"
    assert all(r["embedding"] is not None for r in rows.values())
    # exactly-once: re-run with same checkpoint, no new files ingested
    q2 = ingest_stream(spark, str(src), sink, str(tmp_path / "ckpt"), embed_dim=16)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 9


def test_incremental_cycle(spark, tmp_path, nodes_df_factory, edges_df_factory):
    from cortex_spark.embed import encode_py
    from cortex_spark.linker.index import LshIndexStore
    from cortex_spark.pipeline.incremental import read_meta, run_cycle

    def node(nid, created, text):
        return make_node(
            nid, title=f"title {nid}", body=text, created_at=created,
            embedding=encode_py(text, dim=32), source_agent="agentx",
        )

    base = [node("old1", "2025-12-30 00:00:00", "ancient content alpha beta")]
    fresh = [
        node("new1", "2026-01-01 10:00:00", "fresh content alpha beta"),
        node("new2", "2026-01-01 10:10:00", "fresh content alpha beta gamma"),
    ]
    nodes = nodes_df_factory(base + fresh)
    edges = edges_df_factory([])
    meta = str(tmp_path / "meta.json")
    store = LshIndexStore(str(tmp_path / "idx"), spark, dim=32)

    new_edges, m1 = run_cycle(nodes, edges, meta, now=datetime(2026, 1, 1, 12), index_store=store)
    assert m1["nodes_processed"] == 2  # old1 is before the 24h default cursor
    assert m1["edges_created"] > 0
    srcs = {r["src"] for r in new_edges.collect()}
    assert srcs <= {"new1", "new2"}  # only fresh nodes scan

    # second cycle: cursor advanced → nothing to do
    edges2 = edges.unionByName(new_edges)
    _, m2 = run_cycle(nodes, edges2, meta, now=datetime(2026, 1, 1, 13), index_store=store)
    assert m2["nodes_processed"] == 0
    assert read_meta(meta)["cycle"] == 2

    # config change → cursor reset to epoch → everything reprocessed
    from cortex_spark.linker.rules import LinkerConfig

    cfg2 = LinkerConfig(auto_link_threshold=0.8, contradiction_threshold=0.8)
    _, m3 = run_cycle(
        nodes, edges2, meta, config=cfg2, now=datetime(2026, 1, 1, 14), index_store=store
    )
    assert m3["nodes_processed"] == 3


def test_stream_autolink_end_to_end(spark, tmp_path):
    """Event stream → nodes → incremental link cycles with the persisted
    LSH index; second availableNow run processes only the new file."""
    import json

    from cortex_spark.streaming.autolink import stream_autolink

    src = tmp_path / "events"
    out = tmp_path / "kg"
    src.mkdir()

    def ev(i, ts):
        return json.dumps(
            {"type": "evidence.submitted", "item_id": f"item{i % 2}",
             "evidence_id": f"ev{i}", "content": f"shared evidence payload number {i}",
             "submitted_by": "kai", "ts": ts}
        )

    (src / "b1.jsonl").write_text(
        "\n".join(ev(i, f"2026-01-02 0{i}:00:00") for i in range(4)) + "\n"
    )
    q = stream_autolink(spark, str(src), str(out), embed_dim=32)
    q.awaitTermination(120)

    nodes1 = spark.read.parquet(str(out / "nodes")).count()
    edges1 = spark.read.parquet(str(out / "edges")).count()
    meta1 = json.load(open(out / "linker_meta.json"))
    assert nodes1 == 4 and edges1 > 0 and meta1["cycle"] == 1

    # second batch: later events, one more file; stream checkpoint must
    # process ONLY the new file and advance the cursor
    (src / "b2.jsonl").write_text(
        "\n".join(ev(10 + i, f"2026-01-02 1{i}:00:00") for i in range(2)) + "\n"
    )
    q2 = stream_autolink(spark, str(src), str(out), embed_dim=32)
    q2.awaitTermination(120)

    nodes2 = spark.read.parquet(str(out / "nodes")).count()
    edges2 = spark.read.parquet(str(out / "edges")).count()
    meta2 = json.load(open(out / "linker_meta.json"))
    assert nodes2 == 6  # 4 + 2, no duplicates from re-processing b1
    assert edges2 > edges1
    assert meta2["cycle"] == 2
    assert meta2["cursor"] > meta1["cursor"]
    # cycle 2 signed only the 2 fresh nodes (index meta appends)
    idx_meta = json.load(open(out / "lsh_index" / "_index_meta.json"))
    assert idx_meta["appends"][-1] == 2


def test_stream_batch_keeps_a_prebuilt_index_params(spark, tmp_path):
    """An index built at non-default params before the stream starts keeps
    them through a stream batch, and its earlier rows stay reachable: a
    query at an earlier row's vector still finds it."""
    import numpy as np

    from cortex_spark.linker.index import LshIndexStore
    from cortex_spark.streaming.autolink import stream_autolink

    src = tmp_path / "events"
    out = tmp_path / "kg"
    src.mkdir()
    rng = np.random.default_rng(5)
    earlier = [(f"pre{i}", [float(x) for x in rng.standard_normal(32)]) for i in range(3)]
    schema = "node_id string, embedding array<float>"
    pre = LshIndexStore(str(out / "lsh_index"), spark, dim=32, n_planes=24, bands=2)
    pre.append(spark.createDataFrame(earlier, schema))
    params = json.load(open(pre.meta_path))["params"]

    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(
                {"type": "evidence.submitted", "item_id": "item0", "evidence_id": f"ev{i}",
                 "content": f"shared evidence payload number {i}", "submitted_by": "kai",
                 "ts": f"2026-01-02 0{i}:00:00"}
            )
            for i in range(3)
        ) + "\n"
    )
    stream_autolink(spark, str(src), str(out), embed_dim=32).awaitTermination(120)

    meta = json.load(open(pre.meta_path))
    assert meta["appends"] == [3, 3] and meta["params"] == params
    store = LshIndexStore.open(str(out / "lsh_index"), spark)
    queries = spark.createDataFrame([(f"q_{i}", v) for i, v in earlier], schema)
    hits = {(r["a_id"], r["b_id"]) for r in store.probe(queries, k=5).collect()}
    assert {(f"q_{i}", i) for i, _ in earlier} <= hits
