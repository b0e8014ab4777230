"""Index-served interactive search (round-4 task 1).

The reference serves EVERY vector/hybrid search through its persisted HNSW
index (vector/index.rs:325-373, hybrid.rs:118-127); the distributed
analogue is the persisted LSH signature index. These tests pin:

- recall ≥ 0.95 of the index-served top-k vs the exact full-scan path,
- identical scores for the hits both paths agree on (the probe rescores
  with the same exact cosine),
- the auto-switch: small corpora keep the exact scan even when an index
  is present (same pattern as gate.LSH_ABOVE_INCOMING),
- partition pruning: the probe's index scan carries a PartitionFilter on
  the bucket column — only probed buckets are read,
- one pass: the probe's plan scans the index once and runs no Arrow UDF,
- hybrid_search end-to-end through the index path (schema + blend intact),
- the exact scan: `_vector_search_oracle` and `_search_threshold_oracle`
  are the earlier exact bodies of vector_search and search_threshold, kept
  verbatim; the shared scan returns their rows (scores compared with ==)
  from the same optimized plan, under every filter, tombstones and null
  embeddings.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import make_edge, make_node
from cortex_spark.embed import encode_py
from cortex_spark.functions.similarity import cosine_col
from cortex_spark.hybrid import hybrid_search, search_threshold, vector_search
from cortex_spark.linker.index import N_BUCKET_PARTS, LshIndexStore

QUERY = "graph memory retention and decay policies"
DIM = 32


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """300 nodes clustered at varying distances from the query embedding +
    a persisted LSH index over them."""
    rng = np.random.default_rng(17)
    q = np.array(encode_py(QUERY, DIM, 42))
    q /= np.linalg.norm(q)
    rows = []
    for i in range(300):
        v = q + (0.15 + 1.5 * i / 300) * rng.standard_normal(DIM)
        v /= np.linalg.norm(v)
        rows.append(make_node(f"n{i:03d}", embedding=[float(x) for x in v]))
    from conftest import NODE_COLS

    nodes = spark.createDataFrame(rows, NODE_COLS).cache()
    root = tmp_path_factory.mktemp("idx")
    store = LshIndexStore(str(root / "lsh"), spark, dim=DIM)
    store.append(nodes)
    return nodes, store


def test_index_search_recall_and_scores_vs_brute(spark, corpus):
    nodes, store = corpus
    brute = vector_search(nodes, QUERY, k=10, embed_dim=DIM)
    served = vector_search(nodes, QUERY, k=10, embed_dim=DIM, index=store, use_index=True)
    b = {r["node_id"]: r["vector_score"] for r in brute.collect()}
    s = {r["node_id"]: r["vector_score"] for r in served.collect()}
    assert len(b) == 10
    recall = len(set(b) & set(s)) / len(b)
    assert recall >= 0.95, f"index-served recall {recall} < 0.95"
    for nid in set(b) & set(s):
        assert abs(b[nid] - s[nid]) < 1e-6  # same exact cosine rescore


def test_index_present_but_small_corpus_stays_exact(spark, corpus):
    """Auto-switch: 300 live rows < INDEX_ABOVE_CORPUS ⇒ the exact scan
    runs even though an index was passed — bit-identical to no-index."""
    nodes, store = corpus
    no_idx = [tuple(r) for r in vector_search(nodes, QUERY, k=10, embed_dim=DIM).collect()]
    auto = [
        tuple(r)
        for r in vector_search(nodes, QUERY, k=10, embed_dim=DIM, index=store).collect()
    ]
    assert auto == no_idx


def test_auto_switch_reads_meta_hint_without_count_job(spark, corpus, monkeypatch):
    """Round-5 task: path pick is driver-side metadata. With a corpus-size
    hint in the index meta, vector_search must NOT launch the bounded
    limit+count job — we pin that by making DataFrame.count raise during
    plan construction. A large hint routes to the index (a live node absent
    from the index can't appear); a small hint keeps the exact scan."""
    nodes, store = corpus
    # a live node the index has never seen, placed exactly at the query
    # vector so the brute path must rank it #1
    q = encode_py(QUERY, DIM, 42)
    extra = spark.createDataFrame(
        [make_node("zz_unindexed", embedding=[float(x) for x in q])],
        nodes.schema,
    )
    live = nodes.unionByName(extra)

    # the class that defines count for this session's frames (pyspark's
    # classic DataFrame overrides the base class's count)
    frame_cls = type(live)
    real_count = frame_cls.count

    def boom(self):
        raise AssertionError("path selection launched a count job")

    # large hint ⇒ indexed path, no count job during construction
    meta = store.meta()
    meta["rows_indexed"] = 20_000
    store._write_meta(meta)
    monkeypatch.setattr(frame_cls, "count", boom)
    served = vector_search(live, QUERY, k=10, embed_dim=DIM, index=store)
    monkeypatch.setattr(frame_cls, "count", real_count)
    got = [r["node_id"] for r in served.collect()]
    assert "zz_unindexed" not in got  # index-served: unindexed node invisible

    # small hint ⇒ exact scan (still no count job), unindexed node visible
    meta["rows_indexed"] = 301
    store._write_meta(meta)
    monkeypatch.setattr(frame_cls, "count", boom)
    brute = vector_search(live, QUERY, k=10, embed_dim=DIM, index=store)
    monkeypatch.setattr(frame_cls, "count", real_count)
    assert [r["node_id"] for r in brute.collect()][0] == "zz_unindexed"
    # restore the real meta for the other module-scoped tests
    meta["rows_indexed"] = 300
    store._write_meta(meta)


def test_auto_switch_raises_on_unreadable_meta(spark, corpus, tmp_path):
    """The size hint is read, not guessed: an index whose meta file is
    truncated JSON fails the search instead of silently counting the
    corpus."""
    import json

    nodes, _ = corpus
    broken = LshIndexStore(str(tmp_path / "broken"), spark, dim=DIM)
    os.makedirs(broken.path)
    with open(broken.meta_path, "w") as f:
        f.write('{"rows_indexed": 30')
    with pytest.raises(json.JSONDecodeError):
        vector_search(nodes, QUERY, k=10, embed_dim=DIM, index=broken)


def test_index_search_applies_filters_and_tombstones(spark, corpus):
    nodes, store = corpus
    # tombstone + exclude the two top brute hits; the served path must not
    # return them (stale index entries drop at the live-join)
    top2 = [r["node_id"] for r in vector_search(nodes, QUERY, k=2, embed_dim=DIM).collect()]
    live = nodes.withColumn(
        "deleted", F.when(F.col("node_id") == top2[0], F.lit(True)).otherwise(F.col("deleted"))
    )
    served = vector_search(
        live, QUERY, k=10, embed_dim=DIM, index=store, use_index=True,
        exclude_ids=[top2[1]],
    )
    got = [r["node_id"] for r in served.collect()]
    assert top2[0] not in got and top2[1] not in got and len(got) == 10


def test_probe_scan_prunes_bucket_partitions(spark, corpus):
    nodes, store = corpus
    qdf = nodes.limit(1).select("node_id", "embedding")
    plan = store.probe(qdf, k=5)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [bucket" in plan.replace("PartitionFilters: [isnotnull(bucket", "PartitionFilters: [bucket"), plan
    # the probed-bucket count is strictly below the partition fan-out
    import re as _re

    m = _re.search(r"bucket#\d+L? IN \(([^)]*)\)", plan)
    assert m, plan
    assert 0 < len(m.group(1).split(",")) < N_BUCKET_PARTS


def test_probe_plan_is_one_pass(spark, corpus):
    """The frame probe returns reads the query side from its materialized
    signatures (no Arrow UDF re-run) and scans the index exactly once."""
    import re as _re

    nodes, store = corpus
    qdf = nodes.limit(1).select("node_id", "embedding")
    plan = store.probe(qdf, k=5)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" not in plan, plan
    index_data = os.path.join(os.path.basename(store.path), "data")
    scans = [
        loc for loc in _re.findall(r"Location: \S+ \[([^\]]*)\]", plan)
        if loc.rstrip("/").endswith(index_data)
    ]
    assert len(scans) == 1, plan


def test_hybrid_search_through_index(spark, corpus, edges_df_factory):
    nodes, store = corpus
    top = [r["node_id"] for r in vector_search(nodes, QUERY, k=3, embed_dim=DIM).collect()]
    edges = edges_df_factory(
        [make_edge(top[0], top[1], "relates_to"), make_edge(top[1], top[2], "relates_to")]
    )
    brute = hybrid_search(nodes, edges, QUERY, anchors=[top[0]], limit=5, embed_dim=DIM)
    served = hybrid_search(
        nodes, edges, QUERY, anchors=[top[0]], limit=5, embed_dim=DIM,
        index=store, use_index=True,
    )
    assert served.columns == brute.columns == [
        "node_id", "kind", "title", "vector_score", "graph_score", "combined_score"
    ]
    b = [(r["node_id"], round(r["combined_score"], 6)) for r in brute.collect()]
    s = [(r["node_id"], round(r["combined_score"], 6)) for r in served.collect()]
    # over-fetched index candidates cover the brute top-5 here (recall 1.0
    # on this clustered corpus) ⇒ identical blended ranking
    assert s == b


def _vector_search_oracle(nodes, query_text, k=10, embed_dim=384, embed_seed=42, kinds=None,
                          exclude_ids=None, source_agent=None):
    """The earlier exact path of vector_search."""
    df = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False))).filter(F.col("embedding").isNotNull())
    if kinds:
        df = df.filter(F.col("kind").isin(kinds))
    if exclude_ids:
        df = df.filter(~F.col("node_id").isin(exclude_ids))
    if source_agent:
        df = df.filter(F.col("source_agent") == source_agent)
    qvec = F.array(*[F.lit(float(x)) for x in encode_py(query_text, embed_dim, embed_seed)])
    return (
        df.withColumn("vector_score", cosine_col(F.col("embedding"), qvec))
        .orderBy(F.desc("vector_score"), F.asc("node_id"))
        .limit(k)
    )


def _search_threshold_oracle(nodes, query_text, threshold, embed_dim=384, embed_seed=42):
    """The earlier search_threshold."""
    qvec = F.array(*[F.lit(float(x)) for x in encode_py(query_text, embed_dim, embed_seed)])
    return (
        nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        .filter(F.col("embedding").isNotNull())
        .withColumn("vector_score", cosine_col(F.col("embedding"), qvec))
        .filter(F.col("vector_score") >= threshold)
    )


def _optimized(df) -> str:
    """The optimized plan, with expression ids and lambda-variable numbers
    (session counters) erased."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1", re.sub(r"#\d+L?", "#", plan))


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def mixed(corpus):
    """The corpus with three kinds, two agents, tombstoned, null-deleted
    and null-embedding rows."""
    nodes, _ = corpus
    i = F.substring("node_id", 2, 3).cast("int")
    return (
        nodes.withColumn("kind", F.when(i % 3 == 0, "decision").when(i % 3 == 1, "fact").otherwise("event"))
        .withColumn("source_agent", F.when(i % 2 == 0, "a1").otherwise("a2"))
        .withColumn("deleted", F.when(i % 7 == 0, F.lit(True)).when(i % 7 == 1, F.lit(None)).otherwise(F.lit(False)))
        .withColumn("embedding", F.when(i % 11 == 0, F.lit(None)).otherwise(F.col("embedding")))
        .cache()
    )


@pytest.mark.parametrize(
    "filters",
    [
        {},
        {"kinds": ["fact", "event"]},
        {"exclude_ids": ["n001", "n002", "n004"]},
        {"source_agent": "a2"},
        {"kinds": ["decision"], "exclude_ids": ["n003"], "source_agent": "a1"},
    ],
    ids=["none", "kinds", "exclude", "agent", "all"],
)
def test_exact_scan_matches_earlier_body(mixed, filters):
    for k in (1, 10, 400):
        got = vector_search(mixed, QUERY, k=k, embed_dim=DIM, **filters)
        want = _vector_search_oracle(mixed, QUERY, k=k, embed_dim=DIM, **filters)
        assert _rows(got) == _rows(want)
        assert _optimized(got) == _optimized(want)
    ids = [r[0] for r in _rows(got)]
    assert ids and len(ids) == len(set(ids))


def test_threshold_scan_matches_earlier_body(mixed):
    for threshold in (-1.0, 0.5, 0.9):
        got = search_threshold(mixed, QUERY, threshold, embed_dim=DIM)
        want = _search_threshold_oracle(mixed, QUERY, threshold, embed_dim=DIM)
        assert sorted(_rows(got), key=lambda r: r[0]) == sorted(_rows(want), key=lambda r: r[0])
        assert _optimized(got) == _optimized(want)
    # every row but the tombstoned (i % 7 == 0) and null-embedding (i % 11 == 0)
    live = sum(1 for i in range(300) if i % 7 and i % 11)
    assert len(_rows(search_threshold(mixed, QUERY, -1.0, embed_dim=DIM))) == live
