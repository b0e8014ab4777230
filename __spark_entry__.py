"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship KG query on sf0.001.
queries()     — one entry per implemented operator family (SURVEY §2).
oracle_sql()  — DuckDB-equivalent SQL for every SQL-expressible query
                (tables region nation customer supplier part orders lineitem
                events documents embeddings are pre-registered views).

Column names are aliased identically on both sides (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

import os

from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RUN_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# --------------------------------------------------------------------------
# flagship: full KG pipeline on pages derived from the documents table
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract → link → top-20 most-connected entities (sf0.001)."""
    from cortex_spark.corpus import pages_from_documents
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.graph.degree import most_connected
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    nodes = pages_to_nodes_fused(pages, embed_dim=64).cache()
    edges = link_nodes(nodes, run_ts=RUN_TS, candidates=ann_candidates(nodes))
    return most_connected(nodes, edges, n=20)


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical HTML→text invariant: render documents.text into HTML,
    extract with the pandas-UDF parser, return (doc_id, text) — the oracle is
    the raw documents table, so any extraction drift hash-mismatches."""
    from cortex_spark.corpus import pages_from_documents
    from cortex_spark.extract.html import extract_text_udf

    pages = pages_from_documents(spark, sf_dir)
    return (
        pages.withColumn("doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint"))
        .select("doc_id", extract_text_udf(F.col("html")).alias("text"))
    )


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cortex_spark.extract.classify import classify_col

    return _docs(spark, sf_dir).select(
        "doc_id", classify_col(F.col("text")).alias("kind")
    )


def q_node_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 NodeFilter semantics over documents: AND of predicates, stable
    ordering, offset+limit."""
    d = _docs(spark, sf_dir)
    return (
        d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .offset(5)
        .limit(50)
        .select("doc_id", "lang", "n_chars")
    )


def q_kind_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 stats: nodes_by_kind over classified documents."""
    from cortex_spark.extract.classify import classify_col

    return (
        _docs(spark, sf_dir)
        .select(classify_col(F.col("text")).alias("kind"))
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/A5 window top-k: 5 longest docs per language."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis ops: token counts + subword estimate + quality."""
    from cortex_spark.functions.text import quality_score_col, subword_estimate_col, token_count_col

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        subword_estimate_col(F.col("text")).alias("n_subwords_est"),
        F.round(quality_score_col(F.col("text")), 6).alias("quality"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cortex_spark.dataops.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First MinHash band value per doc (md5-string min-hash — engine-portable)."""
    from cortex_spark.dataops.dedup import minhash_signatures

    sigs = minhash_signatures(_docs(spark, sf_dir), k=4)
    return sigs.select("doc_id", F.col("sig")[0].alias("mh0"), F.col("sig")[3].alias("mh3"))


def q_ngram_jaccard_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram Jaccard over all same-source pairs (≥0.05) — the
    SQL-checkable slice of the near-dup join."""
    from cortex_spark.dataops.dedup import shingles_col

    d = _docs(spark, sf_dir).select("doc_id", "source", shingles_col(F.col("text")).alias("sh"))
    a = d.select(F.col("doc_id").alias("a_id"), F.col("source").alias("a_src"), F.col("sh").alias("a_sh"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("source").alias("b_src"), F.col("sh").alias("b_sh"))
    pairs = a.join(b, (F.col("a_src") == F.col("b_src")) & (F.col("b_id") > F.col("a_id")))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
    return pairs.select("a_id", "b_id", F.round(jac, 6).alias("jaccard")).filter(F.col("jaccard") >= 0.05)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 8 query vectors (similarity search
    baseline; LSH variant is rows-only checked via q_ann_lsh)."""
    from cortex_spark.dataops.ann import ann_topk_bruteforce

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    res = ann_topk_bruteforce(e, q, k=10)
    return res.select("query_id", "neighbor_id", F.round(F.col("score"), 6).alias("score"), "rank")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path). Fully deterministic at fixed seed:
    the random hyperplanes are a pure function of (dim, n_planes, seed)
    (linker/lsh.py:_hyperplanes), so the oracle inlines the exact plane
    matrix and reproduces signature → band-bucket join → cosine rescore
    in DuckDB SQL — the whole LSH top-k is hash-checked, not rows-only."""
    from cortex_spark.dataops.ann import ann_topk_lsh

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    res = ann_topk_lsh(e, q, k=10)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("score"), 6).alias("score"), "rank"
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity over a deterministic pair window (vec_id delta ≤ 20)
    at threshold 0.3 — exercises the cosine kernel + range pair join."""
    e = _embs(spark, sf_dir)
    from cortex_spark.functions.similarity import cosine_col

    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"))
    pairs = a.join(b, (F.col("b_id") > F.col("a_id")) & (F.col("b_id") - F.col("a_id") <= 20))
    return (
        pairs.select("a_id", "b_id", F.round(cosine_col(F.col("a_vec"), F.col("b_vec")), 6).alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/J4 analogue: 30-min-gap sessionization per user over events."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ets = F.col("ts").cast("timestamp").cast("long")
    gap = ets - F.lag(ets).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def q_decision_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 semantics on events: signup → first subsequent purchase per user
    within 7 days (decision×event same-session ordered join)."""
    ev = _events(spark, sf_dir)
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id"), F.col("event_id").alias("signup_id"), F.col("ts").alias("signup_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    j = s.join(p, "user_id").filter(
        (F.col("purchase_ts") > F.col("signup_ts"))
        & (F.col("purchase_ts").cast("timestamp").cast("long") - F.col("signup_ts").cast("timestamp").cast("long") <= 7 * 86400)
    )
    return j.groupBy("signup_id").agg(
        F.min(F.struct("purchase_ts", "purchase_id"))["purchase_id"].alias("first_purchase_id"),
        F.count(F.lit(1)).alias("n_purchases_7d"),
    )


def q_temporal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 temporal-proximity rule shape: same-user event pairs ≤ 30 min apart."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    a = ev.select(F.col("event_id").alias("a_id"), F.col("user_id"), F.col("ts").alias("a_ts"))
    b = ev.select(F.col("event_id").alias("b_id"), F.col("user_id"), F.col("ts").alias("b_ts"))
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("b_id") > F.col("a_id"))
            & (F.abs(F.col("a_ts").cast("timestamp").cast("long") - F.col("b_ts").cast("timestamp").cast("long")) <= 1800)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 decay formula over events (value as weight, props-independent):
    w' = value · exp(-0.01 · days_since(ts))."""
    ev = _events(spark, sf_dir)
    now = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
    days = (now.cast("double") - F.col("ts").cast("timestamp").cast("double")) / 86400.0
    decayed = F.col("value") * F.exp(F.lit(-0.01) * days)
    return ev.select("event_id", F.round(decayed, 6).alias("decayed_value")).filter(
        F.col("decayed_value") >= 1.0
    )


def q_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 degree over the part-supplier co-occurrence graph (lineitem)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from cortex_spark.graph.degree import degree

    e = li.select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
    return degree(e).orderBy(F.desc("degree"), F.asc("node_id")).limit(100)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (agg/filter baseline for the relational ops)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg/top-k: revenue per order for a customer segment."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    # reduce-then-join (guide §3.1): filter orders down to the segment first
    # (broadcast seg, ~1/5 of customers), then broadcast the surviving order
    # keys to the lineitem scan — lineitem (the 6M-row side at sf1) is never
    # shuffled; the old plan shuffled lineitem AND orders for a sort-merge
    # join before the segment filter ever applied. Inner equi-joins commute,
    # so the aggregated row set is identical.
    seg_orders = orders.join(
        F.broadcast(seg), orders["o_custkey"] == seg["c_custkey"]
    ).select("o_orderkey")
    return (
        li.join(F.broadcast(seg_orders), li["l_orderkey"] == seg_orders["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


def q_dsl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 query DSL compiled to a Column over a nodes frame derived from
    documents (kind via classifier, importance via quality score)."""
    from cortex_spark.extract.classify import classify_col
    from cortex_spark.functions.text import quality_score_col
    from cortex_spark.query_dsl import compile_column, parse

    d = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        classify_col(F.col("text")).alias("kind"),
        quality_score_col(F.col("text")).alias("importance"),
        F.lit(False).alias("deleted"),
    )
    ast = parse("(kind:fact OR kind:decision) AND importance>0.55", now=RUN_TS)
    return d.filter(compile_column(ast)).select("doc_id", "kind", F.round("importance", 6).alias("importance"))


def q_hybrid_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5/J12 blend math: combined = 0.7·vec + 0.3·graph over deterministic
    pseudo-scores derived from embeddings."""
    e = _embs(spark, sf_dir)
    vec = (F.col("vec_id") % 100).cast("double") / 100.0
    graph = (F.col("label").cast("double") + 1.0) / 10.0
    return e.select(
        "vec_id", F.round(F.lit(0.7) * vec + F.lit(0.3) * graph, 6).alias("combined")
    ).orderBy(F.desc("combined"), F.asc("vec_id")).limit(50)


def q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 connected components (large-star/small-star) over the TPC-H
    hierarchy graph — 5 region-rooted components of thousands of nodes each
    (the round-1 dup-graph variant was vacuous: the fixtures contain zero
    duplicate texts, so both sides returned 0 rows). Oracle: component =
    lexicographic-min node id within the region subtree, reproduced
    relationally in DuckDB."""
    from cortex_spark.canon.components import connected_components

    edges = _tpch_graph(spark, sf_dir)
    return connected_components(edges).select("node_id", "component")


def _tpch_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list over the TPC-H hierarchy: region→nation→customer→orders
    (namespaced string ids) — a DAG with known depths for BFS oracles."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    e1 = nation.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("dst"),
    )
    e2 = cust.select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("dst"),
    )
    e3 = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return e1.unionByName(e2).unionByName(e3).withColumn("relation", F.lit("has")).withColumn(
        "weight", F.lit(1.0).cast("float")
    ).withColumn("created_at", F.to_timestamp(F.lit("2026-01-01 00:00:00"))).withColumn(
        "updated_at", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    ).withColumn("edge_id", F.concat_ws("-", "src", "dst"))


def _tpch_graph_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H DAG with deterministic DOUBLE edge weights (w = 0.5 + key%10/25)
    — double, not float32, so the DuckDB oracle's arithmetic matches bit-wise."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = lambda key: (F.lit(0.5) + (key % 10).cast("double") / F.lit(25.0))  # noqa: E731
    e1 = nation.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("dst"),
        w(F.col("n_nationkey")).alias("weight"),
    )
    e2 = cust.select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("dst"),
        w(F.col("c_custkey")).alias("weight"),
    )
    e3 = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
        w(F.col("o_orderkey")).alias("weight"),
    )
    return e1.unionByName(e2).unionByName(e3)


def q_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 Kahn topo layers over the TPC-H DAG (subgraph.rs:72-114): the
    iterative zero-in-degree peeling must assign layer = hierarchy level."""
    from cortex_spark.graph.subgraph import topo_layers

    edges = _tpch_graph(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    layers, _cyclic = topo_layers(nodes, edges)
    return layers.select("node_id", F.col("layer").cast("int").alias("layer"))


def q_dijkstra_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 Dijkstra from r0 over the weighted TPC-H DAG: cost = Σ(1−w),
    path_weight = Πw (paths.rs:113-198, product :345-355). The tree has
    unique paths, so the oracle computes both closed-form per level."""
    from cortex_spark.graph.paths import dijkstra

    edges = _tpch_graph_weighted(spark, sf_dir)
    out = dijkstra(edges, "r0", directed=True)
    return out.select(
        "node_id",
        F.round("cost", 6).alias("cost"),
        F.round("path_weight", 6).alias("path_weight"),
    )


def q_score_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 query-time score decay (scoring.rs:84-114) through the real
    score_decay_col: temporal per-kind rate + access echo + recency blend
    over documents-derived nodes with deterministic idle times."""
    from cortex_spark.extract.classify import classify_col
    from cortex_spark.functions.scoring import score_decay_col
    from cortex_spark.functions.text import quality_score_col

    now = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        classify_col(F.col("text")).alias("kind"),
        quality_score_col(F.col("text")).alias("raw"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 500).cast("int"))
        ).alias("last_accessed_at"),
        (F.col("doc_id") % 50).alias("access_count"),
    )
    final = score_decay_col(
        F.col("raw"), F.col("kind"), F.col("last_accessed_at"), F.col("access_count"), now
    )
    return d.select("doc_id", "kind", F.round(final, 6).alias("final_score"))


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 retention sweep eligibility (retention.rs:120-166) through the real
    retention_sweep: ttl + grace + live-inbound-edge protection over
    documents-derived nodes (doc k protects doc k+1 of the same source)."""
    from cortex_spark.decay import retention_sweep

    d = _docs(spark, sf_dir)
    nodes = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("node_id"),
        F.lit("fact").alias("kind"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 900).cast("int"))
        ).alias("created_at"),
        (
            F.to_timestamp(F.lit("2024-06-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 600).cast("int"))
        ).alias("last_accessed_at"),
        F.lit(False).alias("deleted"),
    )
    a = d.select("doc_id", "source")
    b = d.select(F.col("doc_id").alias("doc_id2"), F.col("source").alias("source2"))
    edges = (
        a.join(b, (F.col("doc_id2") == F.col("doc_id") + 1) & (F.col("source2") == F.col("source")))
        .select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
            F.concat(F.lit("d"), F.col("doc_id2").cast("string")).alias("dst"),
        )
    )
    from datetime import datetime as _dt

    eligible = retention_sweep(
        nodes, edges, now=_dt(2026, 6, 1), default_ttl_days=365, grace_days=30
    )
    return eligible.select("node_id")


def q_merge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 node-merge semantics (dedup.rs:296-318) through the real
    merge_node_attrs: tags = order-preserving union, metadata keep-wins,
    importance max, retired rows tombstoned. Pairs: doc 2k absorbs 2k+1."""
    from cortex_spark.canon.merge import merge_node_attrs
    from cortex_spark.functions.text import quality_score_col

    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: (t != "") & (F.length(t) >= 7)
    )
    nodes = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("node_id"),
        F.slice(F.array_sort(F.array_distinct(toks)), 1, 5).alias("tags"),
        F.map_from_arrays(
            F.array(F.lit("lang"), F.concat(F.lit("p"), (F.col("doc_id") % 2).cast("string"))),
            F.array(F.col("lang"), F.col("source")),
        ).alias("metadata"),
        quality_score_col(F.col("text")).alias("importance"),
        F.lit(False).alias("deleted"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("updated_at"),
    )
    a = d.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    b = d.select(F.col("doc_id").alias("doc_id2"))
    cmap = a.join(b, F.col("doc_id2") == F.col("doc_id") + 1).select(
        F.concat(F.lit("d"), F.col("doc_id2").cast("string")).alias("node_id"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("canonical"),
    )
    merged = merge_node_attrs(nodes, cmap, RUN_TS)
    meta_str = F.array_join(
        F.array_sort(F.transform(F.map_entries(F.col("metadata")), lambda e: F.concat(e["key"], F.lit("="), e["value"]))),
        " ",
    )
    return merged.select(
        "node_id",
        F.array_join("tags", " ").alias("tags_str"),
        meta_str.alias("meta_str"),
        F.round(F.col("importance").cast("double"), 6).alias("importance"),
        "deleted",
    )


def q_briefing_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/U2 briefing ranking through the real generate_briefing: section
    ranking (importance desc, access desc), Σ-importance section order,
    ordered seen-set exclusion, global cap — over documents-derived nodes
    whose kinds are all non-default ('lang…'), so exactly the active_context
    + auto-discovered sections fire and every step is SQL-reproducible."""
    from cortex_spark.briefing import generate_briefing
    from cortex_spark.functions.text import quality_score_col

    d = _docs(spark, sf_dir)
    nodes = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("node_id"),
        F.concat(F.lit("lang"), F.col("lang")).alias("kind"),
        F.substring("text", 1, 40).alias("title"),
        F.col("text").alias("body"),
        quality_score_col(F.col("text")).alias("importance"),
        (F.col("doc_id") % 7).alias("access_count"),
        F.lit("oracle").alias("source_agent"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("created_at"),
        F.lit(False).alias("deleted"),
    )
    edges = spark.createDataFrame([], "src string, dst string, relation string")
    rep = generate_briefing(nodes, edges, "oracle", now=RUN_TS.replace(tzinfo=None))
    return rep.select(
        "section", "section_rank", "node_id", F.round(F.col("importance").cast("double"), 6).alias("importance")
    )


def q_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 max-node-cap eviction (retention.rs:231-288) through the real
    eviction_candidates: live nodes over the cap, lowest importance first,
    oldest first on ties."""
    from cortex_spark.decay import eviction_candidates
    from cortex_spark.functions.text import quality_score_col

    d = _docs(spark, sf_dir)
    nodes = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("node_id"),
        quality_score_col(F.col("text")).alias("importance"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 400).cast("int"))
        ).alias("created_at"),
        F.lit(False).alias("deleted"),
    )
    return eviction_candidates(nodes, limit=100).select("node_id")


def q_decay_shielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 edge decay with importance shielding (decay.rs:72-99) through the
    real apply_decay: eff_rate = 0.01·(1 − max(imp_src, imp_dst)·0.8),
    w' = w·exp(−eff_rate·days), survivors ≥ 0.05. Edges chain consecutive
    docs; endpoint importances are quality scores."""
    from datetime import datetime as _dt

    from cortex_spark.decay import apply_decay
    from cortex_spark.functions.text import quality_score_col

    d = _docs(spark, sf_dir)
    nodes = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("node_id"),
        quality_score_col(F.col("text")).alias("importance"),
    )
    ids = d.select("doc_id")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("doc_id").alias("nxt"))
    edges = ids.join(nxt, "doc_id").select(
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("edge_id"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("d"), F.col("nxt").cast("string")).alias("dst"),
        F.lit("related_to").alias("relation"),
        (F.lit(0.06) + (F.col("doc_id") % 100).cast("double") / F.lit(100.0)).alias("weight"),
        F.struct(
            F.lit("auto_similarity").alias("ptype"),
            F.lit(None).cast("string").alias("detail"),
            F.lit(None).cast("float").alias("score"),
        ).alias("provenance"),
        (
            F.to_timestamp(F.lit("2025-01-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 300).cast("int"))
        ).alias("updated_at"),
    )
    survivors, _metrics = apply_decay(edges, nodes, now=_dt(2026, 1, 1))
    return survivors.select(
        "edge_id", F.round(F.col("weight").cast("double"), 6).alias("weight")
    )


def q_prompt_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt resolver HEAD detection (resolver.rs:67-80) through the real
    heads(): documents become versioned prompt nodes (slug = source, version
    = per-source sequence, supersedes chain between consecutive versions);
    HEAD per slug must be the max version."""
    from pyspark.sql import Window

    from cortex_spark.prompt_graph import heads

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    v = d.select("doc_id", "source", F.row_number().over(w).alias("version"))
    nodes = v.select(
        F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("node_id"),
        F.lit("prompt").alias("kind"),
        F.col("source").alias("title"),
        F.to_json(
            F.struct(
                F.col("source").alias("slug"),
                F.lit("persona").alias("type"),
                F.lit("main").alias("branch"),
                F.col("version").alias("version"),
            )
        ).alias("body"),
        F.array().cast("array<string>").alias("tags"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("created_at"),
    )
    prev = v.select(
        F.col("source").alias("p_source"), F.col("doc_id").alias("p_doc"), (F.col("version") + 1).alias("p_next")
    )
    edges = (
        v.join(prev, (F.col("source") == F.col("p_source")) & (F.col("version") == F.col("p_next")))
        .select(
            F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("p_doc").cast("string")).alias("dst"),
            F.lit("supersedes").alias("relation"),
        )
    )
    return heads(nodes, edges).select("slug", "branch", "version", "node_id")


def q_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 multi-source BFS: depths from region r0 over the TPC-H DAG, depth
    ≤ 3 — the oracle reproduces it with explicit per-level joins."""
    from cortex_spark.graph.traverse import bfs

    edges = _tpch_graph(spark, sf_dir)
    return bfs(edges, ["r0"], max_depth=3, direction="out", max_visited=None).select(
        "node_id", "depth"
    )


def q_graph_roots_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 roots/leaves over the TPC-H DAG: per-class counts."""
    edges = _tpch_graph(spark, sf_dir)
    all_nodes = edges.select(F.col("src").alias("node_id")).unionByName(
        edges.select(F.col("dst").alias("node_id"))
    ).distinct()
    roots_df = all_nodes.join(edges.select(F.col("dst").alias("node_id")).distinct(), "node_id", "left_anti")
    leaves_df = all_nodes.join(edges.select(F.col("src").alias("node_id")).distinct(), "node_id", "left_anti")
    return (
        roots_df.withColumn("klass", F.lit("root"))
        .unionByName(leaves_df.withColumn("klass", F.lit("leaf")))
        .groupBy("klass", F.substring("node_id", 1, 1).alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_write_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 write gate (substance + specificity) over documents-derived nodes:
    importance = quality score, no tags → the tags-required and thin-body
    rules fire deterministically."""
    from cortex_spark.functions.text import quality_score_col
    from cortex_spark.gate import specificity_reason, substance_reason

    d = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.concat(F.lit("Document number "), F.col("doc_id").cast("string")).alias("title"),
        F.col("text").alias("body"),
        quality_score_col(F.col("text")).alias("importance"),
        F.array().cast("array<string>").alias("tags"),
        F.lit("fact").alias("kind"),
    )
    sub = substance_reason(F.col("kind"), F.col("title"), F.col("body"))
    spec = specificity_reason(F.col("title"), F.col("body"), F.col("importance"), F.col("tags"))
    return d.select(
        "doc_id",
        F.when(sub.isNotNull(), F.lit("substance"))
        .when(spec.isNotNull(), F.lit("specificity"))
        .otherwise(F.lit("pass"))
        .alias("gate_check"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: deterministic media derived from the embeddings
    table (vec_id-seeded payload) → mapInPandas decode → per-channel
    features. Even ids are REAL P6 netpbm images (genuine codec parse,
    dataops/multimodal.py:_parse_pnm); odd ids use the fake test format.
    Hash-checked against a golden from an INDEPENDENT minimal
    netpbm/FAKEIMG reader (scripts/make_multimodal_golden.py)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        encode_fake_image,
        encode_ppm,
    )

    def build(batches):
        # fixture construction stays executor-side (no driver collect)
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"m{i}" for i in ids],
                    "kind": ["image"] * len(ids),
                    "content": [
                        encode_ppm(8, 8, seed=i) if i % 2 == 0 else encode_fake_image(8, 8, 3, seed=i)
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "image/fake", "width": 8, "height": 8, "channels": 3, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = _embs(spark, sf_dir).filter("vec_id < 64").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    out = decode_and_featurize(media, resize_to=(4, 4))
    return out.select(
        "media_id", "width", "height", "channels", F.round(F.col("features")[0], 6).alias("f0")
    )


def q_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image path with NO optional dependency: deterministic
    8-bit PNGs (gray for odd ids, RGB for even; per-row filters cycling
    None/Sub/Up/Average/Paeth) decoded by the stdlib zlib+unfilter codec
    (dataops/multimodal.py:_decode_png — PIL keeps priority when
    importable and yields the identical raster) → channel-mean features.
    Hash-checked against a golden from an INDEPENDENT scalar spec decoder
    (scripts/make_png_golden.py)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        encode_png,
    )

    def build(batches):
        # fixture construction stays executor-side (no driver collect)
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"p{i}" for i in ids],
                    "kind": ["image"] * len(ids),
                    "content": [encode_png(8, 8, 3 if i % 2 == 0 else 1, seed=i) for i in ids],
                    "media_meta": [
                        {"mime": "image/png", "width": 8, "height": 8, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = _embs(spark, sf_dir).filter("vec_id < 64").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    out = decode_and_featurize(media)
    return out.select(
        "media_id", "width", "height", "channels", F.round(F.col("features")[0], 6).alias("f0")
    )


def q_g711_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-telephony audio with NO optional dependency: G.711
    μ-law (even ids) / A-law (odd ids) WAVs — format codes 7/6, which the
    stdlib `wave` module cannot read — expanded through spec tables
    (dataops/multimodal.py:_decode_wav_g711) → downmix/RMS/ZCR features.
    Hash-checked against a golden from INDEPENDENT scalar ITU formulas
    (scripts/make_g711_golden.py)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import MEDIA_SCHEMA, decode_audio_features, encode_wav_g711

    def build(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"u{i}" for i in ids],
                    "kind": ["audio"] * len(ids),
                    "content": [
                        encode_wav_g711(2000 + (i % 4) * 500, rate=8000,
                                        law="mu" if i % 2 == 0 else "a",
                                        channels=1 + i % 2, seed=i)
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "audio/wav", "width": None, "height": None, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = (
        _embs(spark, sf_dir).filter("vec_id < 48").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    )
    out = decode_audio_features(media)
    return out.select(
        "media_id", "channels", "sample_rate", "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"), F.round(F.col("zcr"), 6).alias("zcr"),
    )


def q_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-compressed audio with NO optional dependency: FLAC
    fixtures (FIXED-prediction subframes with rice residuals, rotating
    left-side/right-side/mid-side stereo decorrelation, CRC trailers)
    decoded by the stdlib bit-level codec
    (dataops/multimodal.py:_decode_flac). FLAC is lossless, so the oracle
    is GROUND TRUTH: features of the source signal itself, re-derived
    with scalar Python math (scripts/make_flac_golden.py) — any decode
    defect anywhere in the chain breaks the hash."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import MEDIA_SCHEMA, decode_audio_features, encode_flac

    def build(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            rows = []
            for i in ids:
                stereo = ["independent", "ls", "rs", "ms"][i % 4]
                channels = 1 if i % 5 == 0 else 2
                if channels == 1:
                    stereo = "independent"
                rows.append(encode_flac(900 + (i % 3) * 700, rate=8000,
                                        channels=channels, seed=i, stereo=stereo))
            yield pd.DataFrame(
                {
                    "media_id": [f"f{i}" for i in ids],
                    "kind": ["audio"] * len(ids),
                    "content": rows,
                    "media_meta": [
                        {"mime": "audio/flac", "width": None, "height": None, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = (
        _embs(spark, sf_dir).filter("vec_id < 48").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    )
    out = decode_audio_features(media)
    return out.select(
        "media_id", "channels", "sample_rate", "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"), F.round(F.col("zcr"), 6).alias("zcr"),
    )


def q_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second compressed-image path with NO optional dependency:
    deterministic GIF89a fixtures (seed-derived 256/16-color palettes, odd
    ids interlaced, real LZW streams incl. width growth) decoded by the
    stdlib LZW codec (dataops/multimodal.py:_decode_gif — PIL keeps
    priority when importable and yields the identical raster) →
    channel-mean features. Hash-checked against a golden from an
    INDEPENDENT scalar spec decoder (scripts/make_gif_golden.py)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        encode_gif,
    )

    def build(batches):
        # fixture construction stays executor-side (no driver collect)
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"g{i}" for i in ids],
                    "kind": ["image"] * len(ids),
                    "content": [
                        encode_gif(10, 6, seed=i, interlace=(i % 2 == 1),
                                   n_colors=16 if i % 3 == 0 else 256)
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "image/gif", "width": 10, "height": 6, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = _embs(spark, sf_dir).filter("vec_id < 64").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    out = decode_and_featurize(media)
    return out.select(
        "media_id", "width", "height", "channels", F.round(F.col("features")[0], 6).alias("f0")
    )


def q_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG path with NO optional dependency: deterministic SOF0
    fixtures (gray + YCbCr 4:4:4/4:2:0, restart intervals on every 5th id,
    Annex-K-style tables embedded in DQT/DHT) decoded by the stdlib+numpy
    codec (dataops/multimodal.py:_decode_jpeg) → channel-mean features.
    prefer_stdlib=True pins the deterministic stdlib decoder: JPEG decode
    is implementation-defined at the pixel level, so the oracle must not
    float with PIL's presence. Hash-checked against a golden from an
    INDEPENDENT scalar T.81 decoder (scripts/make_jpeg_golden.py) —
    bit-identical rasters, not just close ones."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        encode_jpeg,
    )

    def build(batches):
        # fixture construction stays executor-side (no driver collect)
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"j{i}" for i in ids],
                    "kind": ["image"] * len(ids),
                    "content": [
                        encode_jpeg(16, 11, channels=1 if i % 4 == 3 else 3, seed=i,
                                    subsample="420" if i % 2 == 1 else "444",
                                    restart_interval=2 if i % 5 == 0 else 0)
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "image/jpeg", "width": 16, "height": 11, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = _embs(spark, sf_dir).filter("vec_id < 64").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    out = decode_and_featurize(media, prefer_stdlib=True)
    return out.select(
        "media_id", "width", "height", "channels", F.round(F.col("features")[0], 6).alias("f0")
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM WAV decode (stdlib wave, dataops/multimodal.py:_decode_wav)
    over executor-built sine fixtures: n_samples = 4000 + (id mod 5)·400 at
    8 kHz, channels = 1 + id mod 2. The decoded header fields are
    closed-form in id, so this is oracle-checked (signal features rms/zcr
    are pytest-verified analytically)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import MEDIA_SCHEMA, decode_audio_features, encode_wav

    def build(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"a{i}" for i in ids],
                    "kind": ["audio"] * len(ids),
                    "content": [
                        encode_wav(4000 + (i % 5) * 400, rate=8000, channels=1 + i % 2)
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "audio/wav", "width": None, "height": None, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = (
        _embs(spark, sf_dir).filter("vec_id < 64").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    )
    out = decode_audio_features(media)
    return out.select("media_id", "channels", "sample_rate", "duration_ms")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL y4m video decode (dataops/multimodal.py:_parse_y4m) over
    executor-built fixtures: 5 + (id mod 5) frames @ 25 fps, sampled every
    100 ms. The sampling schedule and dimensions come out of the real
    parser and are closed-form in id (luma means are pytest-verified)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import MEDIA_SCHEMA, decode_video_frames, encode_y4m

    def build(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"v{i}" for i in ids],
                    "kind": ["video"] * len(ids),
                    "content": [encode_y4m(8, 6, n_frames=5 + i % 5, fps=25, seed=i) for i in ids],
                    "media_meta": [
                        {"mime": "video/x-yuv4mpeg", "width": 8, "height": 6, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = (
        _embs(spark, sf_dir).filter("vec_id < 48").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    )
    out = decode_video_frames(media, every_ms=100)
    return out.select("media_id", "frame_idx", "ts_ms", "width", "height")


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode with NO optional dependency: MJPEG AVI
    fixtures (RIFF hdrl/movi, one baseline-JPEG '00dc' chunk per frame,
    odd ids grayscale) parsed by the stdlib RIFF walk + JPEG codec
    (dataops/multimodal.py:_parse_avi_mjpeg), sampled every 100 ms.
    Hash-checked — INCLUDING per-frame luma means — against a golden from
    an independent RIFF walk + scalar T.81 decoder
    (scripts/make_avi_golden.py)."""
    import pandas as pd

    from cortex_spark.dataops.multimodal import MEDIA_SCHEMA, decode_video_frames, encode_avi_mjpeg

    def build(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["vec_id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"av{i}" for i in ids],
                    "kind": ["video"] * len(ids),
                    "content": [
                        encode_avi_mjpeg(16, 11, n_frames=2 + i % 3, fps=10, seed=i,
                                         gray=(i % 2 == 1))
                        for i in ids
                    ],
                    "media_meta": [
                        {"mime": "video/x-msvideo", "width": 16, "height": 11, "channels": None, "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    media = (
        _embs(spark, sf_dir).filter("vec_id < 32").select("vec_id").mapInPandas(build, schema=MEDIA_SCHEMA)
    )
    out = decode_video_frames(media, every_ms=100)
    return out.select(
        "media_id", "frame_idx", "ts_ms", "width", "height",
        F.round(F.col("luma_mean"), 6).alias("luma"),
    )


def q_cursor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/§2.11 changed-since cursor batch through the real select_fresh:
    live filter (deleted/embedding), created-OR-updated-after-cursor,
    (created_at, node_id) total order, 120-node cap — all arithmetic in
    doc_id so the cutoff is closed-form."""
    from cortex_spark.pipeline.incremental import select_fresh

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    created = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        days=(id_ % 400).cast("int")
    )
    updated = created + F.make_interval(days=(id_ % 3).cast("int"))
    nodes = d.select(
        F.concat(F.lit("d"), id_.cast("string")).alias("node_id"),
        created.alias("created_at"),
        updated.alias("updated_at"),
        (id_ % 11 == 0).alias("deleted"),
        F.when(id_ % 13 == 0, F.lit(None)).otherwise(F.array(F.lit(1.0))).alias("embedding"),
    )
    live = nodes.filter(~F.col("deleted")).filter(F.col("embedding").isNotNull())
    cursor_lit = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    fresh = select_fresh(live, cursor_lit, 120)
    return fresh.select(
        "node_id",
        F.col("created_at").cast("string").alias("created_at"),
        F.col("updated_at").cast("string").alias("updated_at"),
    )


def q_embed_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 embedding-input builder (vector/embedding.rs:113-131) through the
    real embed_input_col: 'Kind: title\\nbody[\\ntags: a, b]' with the
    empty-tags branch exercised on every 7th doc."""
    from cortex_spark.embed import embed_input_col
    from cortex_spark.extract.classify import classify_col

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    tags = F.when(id_ % 7 == 0, F.array().cast("array<string>")).otherwise(
        F.array(
            F.concat(F.lit("g"), (id_ % 4).cast("string")),
            F.concat(F.lit("h"), (id_ % 3).cast("string")),
        )
    )
    inp = embed_input_col(
        classify_col(F.col("text")), F.substring(F.col("text"), 1, 40), F.col("text"), tags
    )
    return d.select("doc_id", inp.alias("embed_input"))


def q_import_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 through the real export_graph → import_nodes_json roundtrip:
    a documents-derived node table is dumped to JSON (deleted rows dropped,
    embeddings stripped) and re-imported with content-hashed ids and
    Imported-provenance defaults; the oracle recomputes the sha256 ids and
    field mapping closed-form."""
    import tempfile

    from cortex_spark.io import export_graph, import_nodes_json

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    kinds = F.array(F.lit("fact"), F.lit("goal"), F.lit("event"))
    nodes = d.select(
        F.concat(F.lit("T"), id_.cast("string")).alias("title"),
        F.col("text").alias("body"),
        F.element_at(kinds, (id_ % 3 + 1).cast("int")).alias("kind"),
        (((id_ * 13) % 100) / F.lit(100.0)).alias("importance"),
        (id_ % 11 == 0).alias("deleted"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    edges = d.limit(0).select(
        F.lit("a").alias("src"), F.lit("b").alias("dst"), F.lit("related_to").alias("relation")
    )
    out_dir = tempfile.mkdtemp(prefix="cortex_export_")
    export_graph(nodes, edges, out_dir)
    imported = import_nodes_json(spark, f"{out_dir}/nodes", source="import")
    return imported.select(
        "node_id",
        "kind",
        "title",
        F.round(F.col("importance").cast("double"), 6).alias("importance"),
        "source_agent",
    )


_GATE_TITLES = [
    "Alice Johnson report summary",      # 0: pronoun body resolved by proper noun
    "the quarterly update note",         # 1: pronoun body, no proper noun → unresolved
    "Status report from last week",      # 2: temporal term in title
    "Deployment digest entry",           # 3: temporal term in body
    "Deployment digest entry",           # 4: importance .95, body <100B
    "Deployment digest entry",           # 5: importance .85, body <50B
    "Deployment digest entry",           # 6: importance .75, empty tags
    "tiny",                              # 7: title <10 bytes
    "Deployment digest entry",           # 8: body <20 bytes
    "Deployment digest entry",           # 9: bare-URL body
    "Deployment digest entry",           # 10: timestamp body
    "Deployment digest entry",           # 11: decision without action word
]
_GATE_BODIES = [
    "They went to deploy the build and it held fine",
    "They went to deploy the build and it held fine",
    "standard deployment content line for gate checks",
    "yesterday we shipped the release to the production cluster",
    "a compact note about deployments rolled out",
    "deploy notes recorded here ok",
    "standard deployment content line for gate checks",
    "standard deployment content line for gate checks",
    "too small",
    "https://example.com/path",
    "2026-01-01 08:00:00.000",
    "the team met and talked at length",
]


def q_gate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 write gate, ALL branches, through the real substance/specificity/
    schema reason columns (gate.py / gate/mod.rs:95-213, schema.rs:89-179):
    12 planted title/body variants trip every substance+specificity rule,
    and a per-kind metadata schema (required field, number type, max bound,
    allowed values) trips every schema rule. The earlier write_gate query
    keeps the documents-scale slice; this one pins the branch matrix."""
    from cortex_spark.gate import (
        FieldSchema,
        KindSchema,
        schema_reason,
        specificity_reason,
        substance_reason,
    )

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    v = (id_ % 12).cast("int")
    w = (id_ % 5).cast("int")
    titles = F.array(*[F.lit(t) for t in _GATE_TITLES])
    bodies = F.array(*[F.lit(b) for b in _GATE_BODIES])
    title = F.element_at(titles, v + 1)
    body = F.element_at(bodies, v + 1)
    kind = F.when(v == 11, F.lit("decision")).otherwise(F.lit("fact"))
    importance = (
        F.when(v == 4, 0.95).when(v == 5, 0.85).when(v == 6, 0.75).otherwise(0.5)
    )
    tags = F.when(v == 6, F.array().cast("array<string>")).otherwise(
        F.array(F.lit("x1"), F.lit("y2"))
    )
    metadata = (
        F.when(w == 1, F.create_map(F.lit("status"), F.lit("a")))
        .when(w == 2, F.create_map(F.lit("confidence"), F.lit("abc")))
        .when(w == 3, F.create_map(F.lit("confidence"), F.lit("1.5")))
        .when(w == 4, F.create_map(F.lit("confidence"), F.lit("0.2"), F.lit("status"), F.lit("z")))
        .otherwise(F.create_map(F.lit("confidence"), F.lit("0.5"), F.lit("status"), F.lit("a")))
    )
    schemas = {
        "fact": KindSchema(
            required_fields=["confidence"],
            fields={
                "confidence": FieldSchema(field_type="number", min=0.0, max=1.0),
                "status": FieldSchema(allowed_values=["a", "b"]),
            },
        )
    }
    return d.select(
        "doc_id",
        F.coalesce(substance_reason(kind, title, body), F.lit("")).alias("substance"),
        F.coalesce(specificity_reason(title, body, importance, tags), F.lit("")).alias("specificity"),
        F.coalesce(schema_reason(kind, metadata, schemas), F.lit("")).alias("schema_check"),
    )


_VOCAB_KINDS = ["fact", "custom-kind", "Bad", "with_underscore", "", "kind2"]
_VOCAB_RELS = ["related_to", "x-y", "uses", "Led_To", "", "rel9"]


def q_vocab_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind/relation syntactic validation (types.rs:76-95/186-205) through
    the real vocab columns: kinds allow lowercase alnum + hyphens, relations
    lowercase alnum + underscores; plus the allowed-list gate."""
    from cortex_spark.vocab import kind_valid_col, relation_valid_col

    d = _docs(spark, sf_dir)
    v = (F.col("doc_id") % 6 + 1).cast("int")
    kind = F.element_at(F.array(*[F.lit(k) for k in _VOCAB_KINDS]), v)
    rel = F.element_at(F.array(*[F.lit(r) for r in _VOCAB_RELS]), v)
    kind_ok = kind_valid_col(kind)
    return d.select(
        "doc_id",
        kind.alias("kind"),
        kind_ok.alias("kind_ok"),
        (kind_ok & kind.isin(["fact", "custom-kind"])).alias("kind_allowed"),
        rel.alias("relation"),
        relation_valid_col(rel).alias("rel_ok"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs over documents via the native md5 bit-majority
    kernel (dataops/dedup.py:simhash_pairs_native) — candidate = any 16-bit
    chunk equal, exact Hamming rescore ≤ 16. Fully SQL-expressible, so this
    is oracle-checked end to end."""
    from cortex_spark.dataops.dedup import simhash_pairs_native

    return simhash_pairs_native(_docs(spark, sf_dir), max_hamming=16)


def q_briefing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.4 briefing report through the REAL generate_briefing (sectioned
    ranking, 2-hop pattern BFS, contradiction endpoints, ordered seen-set
    exclusion, global cap) over the same frozen doc_id<500 exact-path KG as
    kg_triples. Hash-checked against a golden materialized by the
    independent pure-Python transliteration in scripts/make_kg_golden.py
    (briefing_oracle — no Spark). Golden pinned to sf0.01."""
    from cortex_spark.briefing import generate_briefing
    from cortex_spark.corpus import pages_from_documents
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes
    from cortex_spark.linker.rules import LinkerConfig

    pages = pages_from_documents(spark, sf_dir).filter(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int") < 500
    )
    nodes = pages_to_nodes_fused(pages, embed_dim=64).cache()
    cfg = LinkerConfig(max_edges_per_node=8)
    edges = link_nodes(
        nodes, config=cfg, run_ts=RUN_TS, candidates=ann_candidates(nodes, cfg, use_lsh=False)
    )
    agent = (
        nodes.groupBy("source_agent").count()
        .orderBy(F.desc("count"), F.asc("source_agent")).first()["source_agent"]
    )
    rep = generate_briefing(nodes, edges, agent, now=RUN_TS.replace(tzinfo=None))
    return rep.select(
        "section", "section_idx", "section_rank", "node_id", "kind", "title",
        F.round(F.col("importance"), 6).alias("importance"),
    )


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end KG triple emission (extract → classify/title/tags →
    embed → candidate scan → rule cascade → first-rule-wins → per-node cap)
    over the frozen doc_id<500 corpus, emitting the full (subj, pred, obj,
    weight) list. Hash-checked against a GOLDEN materialized by the pure-
    Python oracle (scripts/make_kg_golden.py — composition of the python
    reference kernels + the tests' rule-cascade transliteration, no Spark),
    inlined as SQL VALUES. The exact candidate path (ann_candidates with
    use_lsh=False) keeps the query deterministic; LSH-vs-exact triple P/R
    ≥0.95 is pytest-asserted (tests/test_pipeline_e2e.py). Golden is
    pinned to sf0.01. max_edges_per_node=8 exercises the W7 cap."""
    from cortex_spark.corpus import pages_from_documents
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes
    from cortex_spark.linker.rules import LinkerConfig

    pages = pages_from_documents(spark, sf_dir).filter(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int") < 500
    )
    nodes = pages_to_nodes_fused(pages, embed_dim=64).cache()
    cfg = LinkerConfig(max_edges_per_node=8)
    edges = link_nodes(
        nodes, config=cfg, run_ts=RUN_TS, candidates=ann_candidates(nodes, cfg, use_lsh=False)
    )
    return edges.select(
        "src", "dst", "relation", F.round(F.col("weight"), 6).alias("weight")
    )


def q_rule_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full legacy rule cascade (J2 similarity, J3 same-agent, J4
    temporal, J5 shared-tags, J6 decision→event, J7 obs→pattern, J8
    fact-supersedes, J10 contradiction) through the REAL apply_link_rules
    (linker/rules.py) over a deterministic pair fixture: nodes derived from
    documents (kind = the real classifier, tags = first-4 title tokens,
    synthetic sessions/timestamps from doc_id), pairs = id-delta ≤ 3,
    score = ((37·a + 61·b) mod 1000)/1000. Every emitted slot is checked
    (relation, weight incl. float32 cast, ptype, detail, priority)."""
    from cortex_spark.linker.rules import LinkerConfig, apply_link_rules

    edges = apply_link_rules(_cascade_pairs(spark, sf_dir), LinkerConfig())
    return _proposal_out(edges)


def _cascade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cortex_spark.extract.classify import classify_col

    d = _docs(spark, sf_dir)
    title = F.substring(F.col("text"), 1, 60)
    toks = F.filter(F.split(F.lower(title), r"\s+"), lambda t: t != "")
    nodes = d.select(
        F.col("doc_id").alias("id"),
        classify_col(F.col("text")).alias("kind"),
        title.alias("title"),
        F.col("text").alias("body"),
        F.array_distinct(F.slice(toks, 1, 4)).alias("tags"),
        F.col("source").alias("source_agent"),
        F.concat_ws(":", F.col("source"), (F.col("doc_id") % 7).cast("string")).alias(
            "source_session"
        ),
        F.timestamp_seconds(F.lit(1700000000) + (F.col("doc_id") % 997) * 60).alias("created_at"),
    )
    a = nodes.select([F.col(c).alias(f"a_{c}") for c in nodes.columns])
    b = nodes.select([F.col(c).alias(f"b_{c}") for c in nodes.columns])
    pairs = (
        a.select("*", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("delta"))
        .withColumn("b_join_id", F.col("a_id") + F.col("delta"))
        .join(b, F.col("b_join_id") == F.col("b_id"))
        .withColumn("score", ((F.col("a_id") * 37 + F.col("b_id") * 61) % 1000) / F.lit(1000.0))
    )
    return pairs


def _proposal_out(edges: DataFrame) -> DataFrame:
    return edges.select(
        "src",
        "dst",
        "relation",
        F.round(F.col("weight").cast("double"), 6).alias("weight"),
        "ptype",
        F.coalesce("detail", F.lit("")).alias("detail"),
        F.round(F.coalesce(F.col("pscore").cast("double"), F.lit(-1.0)), 6).alias("pscore"),
        "priority",
        F.round("score", 6).alias("score"),
    )


def q_first_rule_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 duplicate-edge anti-join + first-rule-wins through the REAL
    pipeline functions (linker/pipeline.py): cascade proposals minus a
    synthetic existing-edge set ((src+dst) mod 5 = 0, related_to), then the
    min_by(priority) hash-aggregate picks one winner per (src, dst,
    relation). Oracle = row_number-over-priority window on the cascade SQL."""
    from cortex_spark.linker.pipeline import first_rule_wins
    from cortex_spark.linker.rules import LinkerConfig, apply_link_rules

    pairs = _cascade_pairs(spark, sf_dir)
    proposed = apply_link_rules(pairs, LinkerConfig())
    existing = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .filter((F.col("src") + F.col("dst")) % 5 == 0)
        .withColumn("relation", F.lit("related_to"))
    )
    filtered = proposed.join(existing, ["src", "dst", "relation"], "left_anti")
    return _proposal_out(first_rule_wins(filtered))


def q_config_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 ConfigRule engine through the REAL apply_link_rules: ten rules —
    one per condition type (always+kind filters, min_similarity,
    shared_tags, same_agent, temporal_proximity, newer_than,
    body_field_contains, body_field_ref title-match, body_field_ref
    json-field-match, negation_detected) — plus one bidirectional rule,
    over an arithmetic fixture (titles/tags/agents/timestamps/JSON bodies
    all deterministic in doc_id), so every predicate incl. the real
    get_json_object parsing is oracle-checkable. The body_field_ref
    match_field='id' branch is pytest-covered (string/long comparison has
    no portable SQL mirror)."""
    from cortex_spark.linker.rules import ConfigRule, LinkerConfig, apply_link_rules

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    s = lambda x: x.cast("string")  # noqa: E731
    title = F.concat(F.lit("T"), s(id_ % 50))
    memo = F.concat(
        F.lit("see T"), s((id_ + 1) % 50), F.lit(" here"),
        F.when(id_ % 4 == 0, F.lit(" not")).otherwise(F.lit("")),
    )
    body = F.concat(
        F.lit('{"ref":"T'), s((id_ + 2) % 50),
        F.lit('","grp":"G'), s(id_ % 9),
        F.lit('","grp2":"G'), s((id_ - 1) % 9),
        F.lit('","memo":"'), memo, F.lit('"}'),
    )
    kinds = F.array(*[F.lit(k) for k in ("fact", "event", "observation", "pattern", "decision", "goal")])
    nodes = d.select(
        id_.alias("id"),
        F.element_at(kinds, (id_ % 6 + 1).cast("int")).alias("kind"),
        title.alias("title"),
        body.alias("body"),
        F.array(
            F.concat(F.lit("k:t"), s((id_ + 3) % 50)),
            F.concat(F.lit("g"), s(id_ % 4)),
            F.concat(F.lit("h"), s(id_ % 3)),
        ).alias("tags"),
        F.concat(F.lit("agent"), s(id_ % 2)).alias("source_agent"),
        F.concat(F.lit("sess"), s(id_ % 7)).alias("source_session"),
        F.timestamp_seconds(F.lit(1700000000) + (id_ % 300) * 60).alias("created_at"),
    )
    a = nodes.select([F.col(c).alias(f"a_{c}") for c in nodes.columns])
    b = nodes.select([F.col(c).alias(f"b_{c}") for c in nodes.columns])
    pairs = (
        a.select("*", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("delta"))
        .withColumn("b_join_id", F.col("a_id") + F.col("delta"))
        .join(b, F.col("b_join_id") == F.col("b_id"))
        .withColumn("score", ((F.col("a_id") * 37 + F.col("b_id") * 61) % 1000) / F.lit(1000.0))
    )
    rules = [
        ConfigRule("fact_event", "relates", from_kind="fact", to_kind="event", condition="always", weight=0.45),
        ConfigRule("sim06", "similar_to", condition="min_similarity", threshold=0.6, weight_is_score=True),
        ConfigRule("shared1", "shares_tag", condition="shared_tags", min_shared=1, weight=0.5),
        ConfigRule("same_actor", "same_actor", condition="same_agent", weight=0.35),
        ConfigRule("near45", "near_in_time", condition="temporal_proximity", window_minutes=45, weight=0.55),
        ConfigRule("newer", "updates", condition="newer_than", weight=0.65),
        ConfigRule("memo_mentions", "mentions", condition="body_field_contains", field="memo", weight=0.7),
        ConfigRule("ref_title", "references", condition="body_field_ref", field="ref", match_field="title", weight=0.9, bidirectional=True),
        ConfigRule("grp_ref", "same_group", condition="body_field_ref", field="grp", match_field="grp2", weight=0.6),
        ConfigRule("negdet", "conflicts", condition="negation_detected", weight=0.75),
    ]
    edges = apply_link_rules(pairs, LinkerConfig(config_rules=rules))
    return edges.select(
        "src",
        "dst",
        "relation",
        F.round(F.col("weight").cast("double"), 6).alias("weight"),
        "ptype",
        F.coalesce("detail", F.lit("")).alias("detail"),
        F.round(F.coalesce(F.col("pscore").cast("double"), F.lit(-1.0)), 6).alias("pscore"),
        "priority",
        F.round("score", 6).alias("score"),
    )


def q_dedup_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 dedup tie-break precedence (dedup.rs:130-177) through the REAL
    dedup_actions + degree aggregate: connections (>2× rule) → importance
    gap (>0.3) → supersede (≥0.98, newer keeps) → link. Fixture is
    arithmetic in doc_id: importance (13·id mod 100)/100, timestamps from
    id mod 400, a synthetic 173-node edge graph for degrees, pair scores
    0.9 + ((7a+11b) mod 100)/1000 straddling the 0.98 boundary."""
    from cortex_spark.canon.dedup import dedup_actions

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    s = lambda x: x.cast("string")  # noqa: E731
    nodes = d.select(
        F.concat(F.lit("d"), s(id_)).alias("node_id"),
        (((id_ * 13) % 100) / F.lit(100.0)).alias("importance"),
        F.timestamp_seconds(F.lit(1700000000) + (id_ % 400) * 60).alias("created_at"),
    )
    edges = d.select(
        F.concat(F.lit("d"), s(id_ % 173)).alias("src"),
        F.concat(F.lit("d"), s((id_ * 5) % 173)).alias("dst"),
    )
    a = d.select(F.col("doc_id").alias("ai"))
    b = d.select(F.col("doc_id").alias("bi"))
    pairs = (
        a.select("*", F.explode(F.array(F.lit(1), F.lit(2))).alias("delta"))
        .withColumn("bj", F.col("ai") + F.col("delta"))
        .join(b, F.col("bj") == F.col("bi"))
        .select(
            F.concat(F.lit("d"), s(F.col("ai"))).alias("a_id"),
            F.concat(F.lit("d"), s(F.col("bi"))).alias("b_id"),
            (F.lit(0.9) + ((F.col("ai") * 7 + F.col("bi") * 11) % 100) / F.lit(1000.0)).alias("score"),
        )
    )
    acts = dedup_actions(pairs, nodes, edges)
    return acts.select(
        "a_id",
        "b_id",
        F.round("score", 6).alias("score"),
        "action",
        F.coalesce("keep", F.lit("")).alias("keep"),
        F.coalesce("retire", F.lit("")).alias("retire"),
    )


def q_chunk_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 plain chunker through the REAL chunk_udf: documents.text has no
    newlines, so the fixture turns every space into one ('\\n'-per-word),
    giving 20-line groups (briefing/ingest.rs:169-176 semantics: groups
    joined unstripped, empty-after-trim groups dropped)."""
    from cortex_spark.extract.chunk import chunk_udf

    d = _docs(spark, sf_dir)
    multiline = F.replace(F.col("text"), F.lit(" "), F.lit("\n"))
    return d.select(
        "doc_id",
        F.posexplode(chunk_udf(multiline, F.lit("plain"))).alias("chunk_idx", "chunk"),
    )


def q_chunk_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 markdown chunker through the REAL chunk_udf: ' the ' → '#sec'
    header lines, remaining spaces → newlines; sections split at '#' lines
    except a leading one (ingest.rs:148-166, chunks trimmed, empties
    dropped)."""
    from cortex_spark.extract.chunk import chunk_udf

    d = _docs(spark, sf_dir)
    md = F.replace(
        F.replace(F.col("text"), F.lit(" the "), F.lit("\n#sec\n")), F.lit(" "), F.lit("\n")
    )
    return d.select(
        "doc_id",
        F.posexplode(chunk_udf(md, F.lit("markdown"))).alias("chunk_idx", "chunk"),
    )


def q_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 1-hop neighbors (engine.rs:136-170) through the real neighbors()
    in all three directions from nation n5 over the TPC-H DAG."""
    from functools import reduce

    from cortex_spark.graph.traverse import neighbors

    edges = _tpch_graph(spark, sf_dir)
    parts = [
        neighbors(edges, "n5", direction=d).withColumn("dir", F.lit(d))
        for d in ("out", "in", "both")
    ]
    return reduce(lambda x, y: x.unionByName(y), parts)


_REINFORCE_IDS = [f"d{i}" for i in range(0, 60, 7)]


def q_reinforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 reinforce (decay.rs:104-135) node side through the real
    reinforce(): touched ids get access_count+1 and both timestamps reset
    to `now`; everything else unchanged."""
    from datetime import datetime

    from cortex_spark.decay import reinforce

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        mins=(id_ % 300).cast("int")
    )
    nodes = d.select(
        F.concat(F.lit("d"), id_.cast("string")).alias("node_id"),
        (id_ % 10).alias("access_count"),
        ts.alias("last_accessed_at"),
        ts.alias("updated_at"),
    )
    edges = _reinforce_edges_fixture(spark, sf_dir)
    _, nodes2 = reinforce(edges, nodes, _REINFORCE_IDS, now=datetime(2026, 1, 1))
    return nodes2.select(
        "node_id",
        "access_count",
        F.col("last_accessed_at").cast("string").alias("last_accessed_at"),
        F.col("updated_at").cast("string").alias("updated_at"),
    )


def _reinforce_edges_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    return d.select(
        F.concat(F.lit("d"), (id_ % 173).cast("string")).alias("src"),
        F.concat(F.lit("d"), ((id_ * 5) % 173).cast("string")).alias("dst"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=(id_ % 300).cast("int"))
        ).alias("updated_at"),
    )


def q_reinforce_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 reinforce edge side: edges touching any reinforced node (src OR
    dst) get updated_at reset to `now`."""
    from datetime import datetime

    from cortex_spark.decay import reinforce

    edges = _reinforce_edges_fixture(spark, sf_dir)
    nodes = edges.sparkSession.createDataFrame(
        [], "node_id string, access_count long, last_accessed_at timestamp, updated_at timestamp"
    )
    edges2, _ = reinforce(edges, nodes, _REINFORCE_IDS, now=datetime(2026, 1, 1))
    return edges2.select(
        "src", "dst", F.col("updated_at").cast("string").alias("updated_at")
    )


_HYBRID_KINDS = ("fact", "event", "observation", "pattern", "decision", "goal")
_HYBRID_QUERY_TEXT = "graph memory query"


def _ivf_fixed_centroids(dim: int = 64, n_centroids: int = 16, seed: int = 11):
    """Deterministic centroid matrix for the driver query: seed-hashed
    gaussian directions, L2-normalized (the production sample-fit quantizer
    fit_ivf_centroids is pytest-verified separately; fixing centroids here
    makes the probe path DuckDB-oracle-able, per the round-2 verdict)."""
    import numpy as np

    from cortex_spark.linker.lsh import _hyperplanes

    C = _hyperplanes(dim, n_centroids, seed)
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (second scale path beside LSH): inverted-list probe join +
    exact cosine rescore, run against a FIXED deterministic quantizer so
    the whole cell-assign → probe → rescore pipeline hash-checks against
    DuckDB. (Quantizer fitting itself is covered by pytest: recall vs
    brute force, fixed-seed determinism, no-shuffle sample plan.)"""
    from cortex_spark.dataops.ann import ann_topk_ivf

    e = _embs(spark, sf_dir)
    res = ann_topk_ivf(
        e, e.filter(F.col("vec_id") < 8), k=10, n_centroids=16, nprobe=6,
        centroids=_ivf_fixed_centroids(),
    )
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("score"), 6).alias("score"), "rank"
    )


def q_mentions_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 mentions-as-tags kernel through the real tags_col (gazetteer
    regex → distinct → sorted → 32-cap, types.rs:331-348): the fixture
    plants per-doc entity tokens by replacing ' the '/' and ' occurrences."""
    from cortex_spark.extract.pipeline import tags_col

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    ent_a = F.concat(F.lit(" entity"), F.lpad((id_ % 1000).cast("string"), 3, "0"))
    ent_b = F.concat(F.lit(" entity"), F.lpad(((id_ * 7) % 1000).cast("string"), 3, "0"))
    fixture = F.replace(F.replace(F.col("text"), F.lit(" the "), ent_a), F.lit(" and "), ent_b)
    return d.select("doc_id", F.array_join(tags_col(fixture), ",").alias("tags"))


def q_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 threshold search (index.rs:375-387) through the real
    search_threshold: every embedding with cosine ≥ 0.1 against the
    encoded query vector (no top-k cap)."""
    from cortex_spark.hybrid import search_threshold

    e = _embs(spark, sf_dir)
    nodes = e.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("node_id"),
        F.col("embedding"),
        F.lit(False).alias("deleted"),
    )
    out = search_threshold(nodes, _HYBRID_QUERY_TEXT, threshold=0.1, embed_dim=64)
    return out.select("node_id", F.round("vector_score", 6).alias("vector_score"))


def q_hybrid_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/J12 full hybrid retrieval through the REAL hybrid_search: one
    encoded query vector (hashing encoder, inlined into the oracle as a
    literal array), brute-force cosine over the embeddings table, 3×
    over-fetch, BFS graph proximity 1/(1+depth) from anchors v0/v50 over a
    chain graph, 0.7/0.3 blend, top-30 (hybrid.rs:113-225)."""
    from cortex_spark.hybrid import hybrid_search

    e = _embs(spark, sf_dir)
    id_ = F.col("vec_id")
    kinds = F.array(*[F.lit(k) for k in _HYBRID_KINDS])
    nodes = e.select(
        F.concat(F.lit("v"), id_.cast("string")).alias("node_id"),
        F.element_at(kinds, (id_ % 6 + 1).cast("int")).alias("kind"),
        F.concat(F.lit("T"), id_.cast("string")).alias("title"),
        F.col("embedding"),
        F.lit(False).alias("deleted"),
    )
    edges = e.select(
        F.concat(F.lit("v"), id_.cast("string")).alias("src"),
        F.concat(F.lit("v"), (id_ + 1).cast("string")).alias("dst"),
    )
    out = hybrid_search(
        nodes, edges, _HYBRID_QUERY_TEXT, anchors=["v0", "v50"], limit=30, embed_dim=64
    )
    return out.select(
        "node_id",
        "kind",
        "title",
        F.round("vector_score", 6).alias("vector_score"),
        F.round("graph_score", 6).alias("graph_score"),
        F.round("combined_score", 6).alias("combined_score"),
    )


def q_title_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 title derivation (ingest.rs title rules) through the real
    title_col: first line, leading '#'s stripped, trimmed, 200-char cap.
    Fixture: ' the ' → newline gives multi-line text; every third doc gets
    a '## ' markdown-header prefix. documents.text is pure ASCII, so the
    native char-truncation equals the reference's byte truncation
    (title_py keeps the multi-byte parity path, pytest-verified)."""
    from cortex_spark.extract.classify import title_col

    d = _docs(spark, sf_dir)
    fixture = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("## ")).otherwise(F.lit("")),
        F.replace(F.col("text"), F.lit(" the "), F.lit("\n")),
    )
    return d.select("doc_id", title_col(fixture).alias("title"))


def q_prompt_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 prompt-selection scoring (selection.rs:125-194) through the real
    column functions: context_fit (dot/abs-sum clamp, NULL on no usable
    weights), BLEND=0.5 variant score with null-fit fallback, observation
    score (sentiment/corrections/outcome), EMA α=0.1 weight update. The
    ε-greedy pick itself hashes with xxhash64 (no SQL mirror) and stays
    pytest-verified."""
    from cortex_spark.prompt import (
        context_fit_col,
        observation_score_col,
        score_variant_col,
        update_edge_weight_col,
    )

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    weights = F.create_map(
        F.lit("a"), ((id_ % 7) - 3).cast("double") / F.lit(3.0),
        F.lit("b"), (id_ % 5).cast("double") / F.lit(5.0),
    )
    signals = F.create_map(F.lit("a"), F.lit(0.6), F.lit("b"), F.lit(0.4))
    edge_w = (id_ % 100).cast("double") / F.lit(100.0)
    sentiment = ((id_ % 21).cast("double") - 10.0) / F.lit(10.0)
    corrections = id_ % 13
    outcome = F.element_at(
        F.array(F.lit("success"), F.lit("partial"), F.lit("failure")), (id_ % 3 + 1).cast("int")
    )
    fit = context_fit_col(weights, signals)
    obs = observation_score_col(sentiment, corrections, outcome)
    return d.select(
        "doc_id",
        F.round(F.coalesce(fit, F.lit(-1.0)), 6).alias("fit"),
        F.round(score_variant_col(edge_w, weights, signals), 6).alias("score"),
        F.round(obs, 6).alias("obs_score"),
        F.round(update_edge_weight_col(edge_w, obs), 6).alias("new_weight"),
    )


def q_timetravel_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 time-travel BFS (temporal.rs:55-123) + the W5 temporal edge
    filter through the real neighborhood_at: TPC-H DAG with per-edge
    created_at = 2024-01-01 + (key mod 400) days, snapshot at 2024-06-01 —
    only edges created on or before the snapshot are traversable."""
    from datetime import datetime

    from cortex_spark.graph.traverse import neighborhood_at

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    mk = lambda key: base + F.make_interval(days=(key % 400).cast("int"))  # noqa: E731
    e1 = nation.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("dst"),
        mk(F.col("n_nationkey")).alias("created_at"),
    )
    e2 = cust.select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("dst"),
        mk(F.col("c_custkey")).alias("created_at"),
    )
    e3 = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
        mk(F.col("o_orderkey")).alias("created_at"),
    )
    edges = e1.unionByName(e2).unionByName(e3)
    out = neighborhood_at(edges, ["r0"], at=datetime(2024, 6, 1), max_depth=3)
    return out.select("node_id", F.col("depth").cast("int").alias("depth"))


def q_subgraph_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 subgraph merge (subgraph.rs:117-144) through the real
    merge_subgraphs: two both-direction depth-2 BFS balls (from n5 and n8)
    unioned with min-depth-wins."""
    from cortex_spark.graph.traverse import bfs, merge_subgraphs

    edges = _tpch_graph(spark, sf_dir)
    s5 = bfs(edges, ["n5"], max_depth=2)
    s8 = bfs(edges, ["n8"], max_depth=2)
    out = merge_subgraphs(s5, s8)
    return out.select("node_id", F.col("depth").cast("int").alias("depth"))


def q_cyclic_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 cycle detection + G13 Kahn peeling through the real topo_layers:
    documents partitioned into 20-node blocks — even blocks are closed
    rings (cycle participants, layer −1), odd blocks are open chains
    (layer = position). Exercises both outputs of the iterative
    zero-in-degree peel (subgraph.rs:72-114, engine.rs:256-280)."""
    from cortex_spark.graph.subgraph import topo_layers

    d = _docs(spark, sf_dir)
    id_ = F.col("doc_id")
    s = lambda x: x.cast("string")  # noqa: E731
    pos = id_ % 20
    even_blk = (id_ % 40) < 20
    nodes = d.select(F.concat(F.lit("d"), s(id_)).alias("node_id"))
    e1 = d.filter(pos < 19).select(
        F.concat(F.lit("d"), s(id_)).alias("src"), F.concat(F.lit("d"), s(id_ + 1)).alias("dst")
    )
    e2 = d.filter((pos == 19) & even_blk).select(
        F.concat(F.lit("d"), s(id_)).alias("src"), F.concat(F.lit("d"), s(id_ - 19)).alias("dst")
    )
    layers, cyclic = topo_layers(nodes, e1.unionByName(e2))
    out = layers.unionByName(cyclic.withColumn("layer", F.lit(-1)))
    return out.select("node_id", F.col("layer").cast("int").alias("layer"))


def q_dfs_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 exact DFS visit order (traversal.rs:190-315) through the real
    stack replay: preorder from r0 with children ascending by edge_id. On
    the TPC-H tree the order equals lexicographic rank of the chr(1)-joined
    edge-id path (separator sorts below every id character, so a child's
    whole subtree precedes its next sibling)."""
    from cortex_spark.graph.traverse import dfs

    edges = _tpch_graph(spark, sf_dir)
    out, _truncated = dfs(edges, ["r0"], max_depth=3)
    return out.select(
        "node_id",
        F.col("depth").cast("int").alias("depth"),
        F.col("visit_order").cast("int").alias("visit_order"),
    )


def q_weighted_traverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 max-product-weight traversal (traversal.rs:318-450) through the
    real iterative max-aggregate relaxation, from r0 over the weighted
    TPC-H tree (unique paths ⇒ closed-form products per level)."""
    from cortex_spark.graph.paths import weighted_traverse

    edges = _tpch_graph_weighted(spark, sf_dir)
    out = weighted_traverse(edges, ["r0"], max_depth=3, directed=True)
    return out.select(
        "node_id",
        F.round("path_weight", 6).alias("path_weight"),
        F.col("depth").cast("int").alias("depth"),
    )


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 unweighted shortest path (paths.rs:57-112) through the real
    iterative frontier search: region(n5) → n5 → lowest-keyed customer of
    nation 5 over the TPC-H DAG (unique tree path ⇒ closed-form oracle)."""
    from cortex_spark.graph.paths import shortest_path_unweighted

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    target = cust.filter(F.col("c_nationkey") == 5).agg(F.min("c_custkey")).first()[0]
    region = nation.filter(F.col("n_nationkey") == 5).first()["n_regionkey"]
    edges = _tpch_graph(spark, sf_dir)
    path = shortest_path_unweighted(edges, f"r{region}", f"c{target}")
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(path or [])], "position int, node_id string"
    )


def q_streaming_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 Structured-Streaming windowed aggregation through the REAL
    stream job (streaming/windows.py:stream_windowed_counts — watermarked
    tumbling windows, append mode, availableNow): the events table is
    frozen into a single JSONL file (one file ⇒ one micro-batch ⇒ a
    deterministic final watermark of max(ts) − 2h), streamed through
    readStream → window(1h) → parquet sink, and the emitted windows are
    returned. Append semantics make the oracle closed-form: exactly the
    hour windows whose end ≤ max(ts) − 2h appear, each exactly once."""
    import tempfile

    from cortex_spark.streaming.windows import stream_windowed_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("ts").isNotNull())
    work = tempfile.mkdtemp(prefix="cortex_stream_counts_")
    src, out = f"{work}/src", f"{work}/out"
    # one file ⇒ one micro-batch: the watermark is 1970 while the batch runs
    # (nothing is late-dropped) and finalizes at max(ts) − delay, so the set
    # of emitted windows is a pure function of the input
    (
        events.select(
            F.to_json(
                F.struct(
                    F.col("event_type").alias("type"),
                    F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("item_id"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                )
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(src)
    )
    # availableNow always terminates; unbounded await (a timed wait can
    # return early under host contention and read a half-written sink)
    stream_windowed_counts(
        spark, src, out, window_duration="1 hour", watermark_delay="2 hours"
    ).awaitTermination()
    return spark.read.parquet(f"{out}/window_counts").select(
        "window_start", "window_end", "kind", "n"
    )


def q_streaming_autolink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship STREAMING composition end-to-end through the REAL
    stream_autolink job (streaming/autolink.py): JSONL event stream →
    warren node templating (9 templates, in-batch + cross-batch dedup) →
    hashing embeddings → persisted-LSH-index incremental link cycle
    (pipeline/incremental.run_cycle: cursor, index append+probe, rule
    cascade, first-rule-wins, per-node cap) → edge appends. TWO availableNow
    runs over the shared deterministic fixture (streaming/fixture.py —
    batch 2 lands 2 h after batch 1, so run 2 is a genuine incremental
    cycle: cursor-fresh nodes probing the ACCUMULATED index, anti-joining
    run 1's edges). Hash-checked against a golden materialized by the
    independent pure-Python oracle (scripts/make_streaming_golden.py — the
    python kernels + the validated cascade transliteration, no Spark/
    Structured Streaming/index store). Golden pinned to sf0.01.
    max_edges_per_node=6 keeps each cycle under the per-cycle cap's tie
    boundary and exercises W7."""
    import tempfile

    from cortex_spark.linker.rules import LinkerConfig
    from cortex_spark.streaming.autolink import stream_autolink
    from cortex_spark.streaming.fixture import warren_event_lines

    work = tempfile.mkdtemp(prefix="cortex_stream_autolink_")
    src, out = f"{work}/src", f"{work}/out"
    os.makedirs(src, exist_ok=True)
    b1, b2 = warren_event_lines(sf_dir)
    cfg = LinkerConfig(max_edges_per_node=6)
    # one file per run ⇒ one micro-batch per run ⇒ deterministic batches
    with open(f"{src}/batch1.jsonl", "w") as f:
        f.write("\n".join(b1) + "\n")
    stream_autolink(spark, src, out, config=cfg).awaitTermination()
    with open(f"{src}/batch2.jsonl", "w") as f:
        f.write("\n".join(b2) + "\n")
    stream_autolink(spark, src, out, config=cfg).awaitTermination()
    return spark.read.parquet(f"{out}/edges").select(
        "src", "dst", "relation", F.round(F.col("weight"), 6).alias("weight")
    )


def _streaming_autolink_sql() -> str:
    """Golden VALUES oracle for the streaming composition (see
    q_streaming_autolink); materialized by scripts/make_streaming_golden.py."""
    import json as _json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "streaming_autolink_sf0_01.json")
    golden = _json.load(open(path))
    vals = ",\n".join(
        "('{}', '{}', '{}', {})".format(s, d, r, w) for s, d, r, w in golden["triples"]
    )
    return (
        "SELECT src, dst, relation, CAST(weight AS DOUBLE) AS weight "
        "FROM (VALUES\n" + vals + "\n) AS t(src, dst, relation, weight)"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate: the driver's correctness gate covers the FIRST
    # 50 entries, and the window ROTATES each round so no query's driver
    # evidence goes more than ~one round stale. Round-5 window: the 23
    # entries past round 4's window (all driver-green in CORRECTNESS_r03)
    # rotate IN, plus the new round-5 streaming_autolink; 24 round-4-green
    # entries rotate OUT (each displaced entry's family keeps a stronger
    # in-window oracle — e.g. video_frames→avi_frames, simhash→the dedup
    # family rotating in, prompt_heads→prompt_scoring, decay/retention/
    # eviction→score_decay + the r04 record, flac_features→g711_features
    # through the same audio plumbing). Union of CORRECTNESS_r05 ∪ r04
    # covers all 74 queries with nothing older than one round.
    return {
        # ── rotated IN: driver evidence refreshed this round ──
        "kind_histogram": q_kind_histogram,
        "multimodal_decode": q_multimodal_decode,
        "exact_dedup": q_exact_dedup,
        "minhash_signature": q_minhash_signature,
        "embedding_neardup": q_embedding_neardup,
        "write_gate": q_write_gate,
        "score_decay": q_score_decay,
        "briefing_rank": q_briefing_rank,
        "chunk_plain": q_chunk_plain,
        "reinforce": q_reinforce,
        "ngram_jaccard_window": q_ngram_jaccard_window,
        "ann_topk": q_ann_topk,
        "first_rule_wins": q_first_rule_wins,
        "prompt_scoring": q_prompt_scoring,
        "timetravel_bfs": q_timetravel_bfs,
        "weighted_traverse": q_weighted_traverse,
        "degree": q_degree,
        "tpch_q1": q_tpch_q1,
        "tpch_q3ish": q_tpch_q3ish,
        "title_derive": q_title_derive,
        "vocab_check": q_vocab_check,
        "audio_features": q_audio_features,
        "node_filter": q_node_filter,
        # ── new this round: the flagship streaming composition e2e ──
        "streaming_autolink": q_streaming_autolink,
        # ── kept in-window: flagship / strongest oracle per family ──
        "kg_triples": q_kg_triples,
        "briefing": q_briefing,
        "cc": q_cc,
        "gate_full": q_gate_full,
        "rule_cascade": q_rule_cascade,
        "config_rules": q_config_rules,
        "hybrid_full": q_hybrid_full,
        "hybrid_blend": q_hybrid_blend,
        "merge_semantics": q_merge_semantics,
        "dedup_actions": q_dedup_actions,
        "extract_text": q_extract_text,
        "classify": q_classify,
        "text_profile": q_text_profile,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "cursor_batch": q_cursor_batch,
        "import_export": q_import_export,
        "dfs_order": q_dfs_order,
        "bfs_depths": q_bfs_depths,
        "dsl_filter": q_dsl_filter,
        "streaming_counts": q_streaming_counts,
        "png_features": q_png_features,
        "gif_features": q_gif_features,
        "jpeg_features": q_jpeg_features,
        "avi_frames": q_avi_frames,
        "g711_features": q_g711_features,
        # ── past the 50-query window: redundant slices, all driver-green
        # in CORRECTNESS_r04 (≤1 round stale) ──
        "flac_features": q_flac_features,
        "video_frames": q_video_frames,
        "simhash": q_simhash,
        "prompt_heads": q_prompt_heads,
        "topo_layers": q_topo_layers,
        "dijkstra_costs": q_dijkstra_costs,
        "retention": q_retention,
        "eviction": q_eviction,
        "decay_shielded": q_decay_shielded,
        "decay": q_decay,
        "graph_roots_leaves": q_graph_roots_leaves,
        "subgraph_merge": q_subgraph_merge,
        "cyclic_nodes": q_cyclic_nodes,
        "shortest_path": q_shortest_path,
        "embed_input": q_embed_input,
        "mentions_tags": q_mentions_tags,
        "threshold_search": q_threshold_search,
        "reinforce_edges": q_reinforce_edges,
        "neighbors": q_neighbors,
        "chunk_markdown": q_chunk_markdown,
        "temporal_pairs": q_temporal_pairs,
        "decision_to_event": q_decision_to_event,
        "sessionize": q_sessionize,
        "topk_per_group": q_topk_per_group,
    }


_CLASSIFY_SQL_CASE = """
    CASE
      WHEN lower(text) LIKE '%decided%' OR lower(text) LIKE '%decision%'
        OR lower(text) LIKE '%chose%' OR lower(text) LIKE '%will use%' THEN 'decision'
      WHEN lower(text) LIKE '%goal%' OR lower(text) LIKE '%target%'
        OR lower(text) LIKE '%aim%' OR lower(text) LIKE '%objective%' THEN 'goal'
      WHEN lower(text) LIKE '%prefer%' OR lower(text) LIKE '%always%'
        OR lower(text) LIKE '%never%' OR lower(text) LIKE '%style%' THEN 'preference'
      WHEN lower(text) LIKE '%pattern%' OR lower(text) LIKE '%recurring%'
        OR lower(text) LIKE '%tendency%' THEN 'pattern'
      WHEN lower(text) LIKE '%happened%' OR lower(text) LIKE '%event%'
        OR lower(text) LIKE '%occurred%' THEN 'event'
      WHEN lower(text) LIKE '%observed%' OR lower(text) LIKE '%noticed%'
        OR lower(text) LIKE '%note%' THEN 'observation'
      ELSE 'fact'
    END
"""

_QUALITY_SQL = """
    0.4 * least(1.0, len(list_filter(string_split(lower(text), ' '), t -> t <> '')) / 100.0)
    + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / greatest(length(text), 1))
    + 0.3 * least(1.0, 5.0 * len(list_filter(string_split(lower(text), ' '),
        t -> t IN ('the','and','of','to','a','in','is','it','that','for')))
        / greatest(len(list_filter(string_split(lower(text), ' '), t -> t <> '')), 1))
"""

_SHINGLES_SQL = """
    list_sort(list_distinct([
        array_to_string(toks[i:i+2], ' ')
        for i in range(1, greatest(len(toks) - 2, 1) + 1)
    ]))
"""


def _simhash_sql(seed: int = 11, max_hamming: int = 16) -> str:
    """DuckDB mirror of dataops/dedup.py:simhash_pairs_native — same md5
    token hash, same 64 bit-majority sums, same chunk join + Hamming rescore."""
    sums = ", ".join(
        f"SUM(CASE WHEN ({'h_lo' if b < 32 else 'h_hi'} >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    chunks = ", ".join(
        "("
        + " + ".join(f"(CASE WHEN s{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
        + f") AS c{c}"
        for c in range(4)
    )
    fc_rows = " UNION ALL ".join(
        f"SELECT doc_id, c0, c1, c2, c3, {c} AS chunk_idx, c{c} AS chunk FROM f" for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(CAST(a.c{c} AS BIGINT), CAST(b.c{c} AS BIGINT)))" for c in range(4))
    return (
        "WITH tok AS (SELECT doc_id, t AS tok FROM "
        "(SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t FROM documents) WHERE t <> ''), "
        f"h AS (SELECT doc_id, ('0x' || substr(md5('{seed}|' || tok), 1, 8))::BIGINT AS h_hi, "
        f"('0x' || substr(md5('{seed}|' || tok), 9, 8))::BIGINT AS h_lo FROM tok), "
        f"s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id), "
        f"f AS (SELECT doc_id, {chunks} FROM s), "
        f"fc AS ({fc_rows}), "
        f"p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, CAST({ham} AS BIGINT) AS hamming "
        "FROM fc a JOIN fc b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id) "
        f"SELECT a_id, b_id, hamming FROM p WHERE hamming <= {max_hamming}"
    )


def _rule_cascade_sql() -> str:
    """DuckDB mirror of q_rule_cascade: same fixture arithmetic, same 8
    slot conditions/weights/priorities as linker/rules.py:apply_link_rules
    with the default LinkerConfig (thresholds 0.75/0.80, window 1800 s,
    min shared tags 2, obs-pattern 0.7, title Jaccard 0.9)."""
    neg_terms = ["not", "never", "no longer", "stopped", "removed", "deprecated", "replaced", "obsolete"]

    def neg(side: str) -> str:
        return "(" + " OR ".join(f"contains({side}_negtext, '{w}')" for w in neg_terms) + ")"

    wordset = "list_distinct(list_filter(regexp_split_to_array(lower({t}), '\\s+'), w -> w <> ''))"
    wa, wb = wordset.format(t="a_title"), wordset.format(t="b_title")
    jac = (
        f"(CASE WHEN len({wa}) = 0 AND len({wb}) = 0 THEN 1.0 "
        f"WHEN len({wa}) = 0 OR len({wb}) = 0 THEN 0.0 "
        f"ELSE len(list_intersect({wa}, {wb})) * 1.0 / len(list_distinct(list_concat({wa}, {wb}))) END)"
    )
    slots = [
        ("score >= 0.75", "'related_to'", "score", "'auto_similarity'", "''", "round(score, 6)", 0),
        ("a_agent = b_agent", "'related_to'", "0.3", "'auto_structural'", "'same_agent'", "-1.0", 1),
        ("abs(a_secs - b_secs) <= 1800", "'related_to'", "0.4", "'auto_structural'", "'temporal_proximity'", "-1.0", 2),
        ("shared >= 2", "'related_to'", "least(0.5 * (1.0 + (shared - 2) * 0.1), 1.0)", "'auto_structural'", "'shared_tags'", "-1.0", 3),
        ("a_kind = 'decision' AND b_kind = 'event' AND a_sess = b_sess AND a_secs < b_secs", "'led_to'", "0.6", "'auto_structural'", "'decision_to_event'", "-1.0", 4),
        ("a_kind = 'observation' AND b_kind = 'pattern' AND score >= 0.7", "'instance_of'", "0.7", "'auto_structural'", "'observation_to_pattern'", "-1.0", 5),
        (f"a_kind = 'fact' AND b_kind = 'fact' AND a_secs > b_secs AND {jac} >= 0.9", "'supersedes'", "0.9", "'auto_structural'", "'fact_supersedes'", "-1.0", 6),
        ("score >= 0.80 AND a_neg <> b_neg", "'contradicts'", "score", "'auto_contradiction'", "'Negation pattern detected'", "-1.0", 100),
    ]
    unions = " UNION ALL ".join(
        f"SELECT a_id AS src, b_id AS dst, {rel} AS relation, "
        f"round(CAST(CAST({w} AS FLOAT) AS DOUBLE), 6) AS weight, {pt} AS ptype, "
        f"{det} AS detail, {ps} AS pscore, {pri} AS priority, round(score, 6) AS score "
        f"FROM feat WHERE {cond}"
        for cond, rel, w, pt, det, ps, pri in slots
    )
    return (
        "WITH n AS (SELECT doc_id AS id, "
        f"{_CLASSIFY_SQL_CASE} AS kind, "
        "substr(text, 1, 60) AS title, "
        "list_distinct(list_filter(regexp_split_to_array(lower(substr(text, 1, 60)), '\\s+'), t -> t <> '')[1:4]) AS tags, "
        "source AS agent, source || ':' || CAST(doc_id % 7 AS VARCHAR) AS sess, "
        "1700000000 + (doc_id % 997) * 60 AS secs, "
        "lower(substr(text, 1, 60) || ' ' || text) AS negtext FROM documents), "
        "p AS (SELECT a.id AS a_id, b.id AS b_id, a.kind AS a_kind, b.kind AS b_kind, "
        "a.title AS a_title, b.title AS b_title, a.tags AS a_tags, b.tags AS b_tags, "
        "a.agent AS a_agent, b.agent AS b_agent, a.sess AS a_sess, b.sess AS b_sess, "
        "a.secs AS a_secs, b.secs AS b_secs, a.negtext AS a_negtext, b.negtext AS b_negtext, "
        "((a.id * 37 + b.id * 61) % 1000) / 1000.0 AS score "
        "FROM n a CROSS JOIN (SELECT unnest([1, 2, 3]) AS delta) d JOIN n b ON b.id = a.id + d.delta), "
        "feat AS (SELECT *, len(list_intersect(a_tags, b_tags)) AS shared, "
        f"{neg('a')} AS a_neg, {neg('b')} AS b_neg FROM p) "
        + unions
    )


def _config_rules_sql() -> str:
    """DuckDB mirror of q_config_rules: the fixture is arithmetic in doc_id,
    so every ConfigRule predicate (incl. the JSON-body references, which the
    Spark side parses with real get_json_object) reduces to closed-form
    conditions; contains() quirks are mirrored literally."""
    neg_terms = ["not", "never", "no longer", "stopped", "removed", "deprecated", "replaced", "obsolete"]

    def neg(side: str) -> str:
        return "(" + " OR ".join(f"contains({side}_negtext, '{w}')" for w in neg_terms) + ")"

    st = "'auto_structural'"
    slots = [
        ("score >= 0.75", "'related_to'", "score", "'auto_similarity'", "''", "round(score, 6)", 0),
        ("a_id % 6 = 0 AND b_id % 6 = 1", "'relates'", "0.45", st, "'fact_event'", "-1.0", 10),
        ("score >= 0.6", "'similar_to'", "score", st, "'sim06'", "-1.0", 11),
        ("shared >= 1", "'shares_tag'", "0.5", st, "'shared1'", "-1.0", 12),
        ("a_id % 2 = b_id % 2", "'same_actor'", "0.35", st, "'same_actor'", "-1.0", 13),
        ("abs(a_id % 300 - b_id % 300) * 60 <= 2700", "'near_in_time'", "0.55", st, "'near45'", "-1.0", 14),
        ("a_id % 300 > b_id % 300", "'updates'", "0.65", st, "'newer'", "-1.0", 15),
        ("contains(a_memo, 'T' || CAST(b_id % 50 AS VARCHAR))", "'mentions'", "0.7", st, "'memo_mentions'", "-1.0", 16),
        ("(a_id + 2) % 50 = b_id % 50", "'references'", "0.9", st, "'ref_title'", "-1.0", 17),
        ("a_id % 9 = (b_id - 1) % 9", "'same_group'", "0.6", st, "'grp_ref'", "-1.0", 18),
        (f"{neg('a')} <> {neg('b')}", "'conflicts'", "0.75", st, "'negdet'", "-1.0", 19),
        (f"score >= 0.80 AND {neg('a')} <> {neg('b')}", "'contradicts'", "score", "'auto_contradiction'", "'Negation pattern detected'", "-1.0", 100),
    ]
    unions = " UNION ALL ".join(
        f"SELECT a_id AS src, b_id AS dst, {rel} AS relation, "
        f"round(CAST(CAST({w} AS FLOAT) AS DOUBLE), 6) AS weight, {pt} AS ptype, "
        f"{det} AS detail, {ps} AS pscore, {pri} AS priority, round(score, 6) AS score "
        f"FROM feat WHERE {cond}"
        for cond, rel, w, pt, det, ps, pri in slots
    )
    memo = (
        "'see T' || CAST(({id} + 1) % 50 AS VARCHAR) || ' here' || "
        "CASE WHEN {id} % 4 = 0 THEN ' not' ELSE '' END"
    )
    body = (
        "'{{\"ref\":\"T' || CAST(({id} + 2) % 50 AS VARCHAR) || "
        "'\",\"grp\":\"G' || CAST({id} % 9 AS VARCHAR) || "
        "'\",\"grp2\":\"G' || CAST(({id} - 1) % 9 AS VARCHAR) || "
        "'\",\"memo\":\"' || " + memo + " || '\"}}'"
    )
    negtext = "lower('T' || CAST({id} % 50 AS VARCHAR) || ' ' || " + body + ")"
    return (
        "WITH p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "((a.doc_id * 37 + b.doc_id * 61) % 1000) / 1000.0 AS score "
        "FROM documents a CROSS JOIN (SELECT unnest([1, 2, 3]) AS delta) d "
        "JOIN documents b ON b.doc_id = a.doc_id + d.delta), "
        "feat AS (SELECT a_id, b_id, score, "
        + memo.format(id="a_id") + " AS a_memo, "
        + negtext.format(id="a_id") + " AS a_negtext, "
        + negtext.format(id="b_id") + " AS b_negtext, "
        "(CASE WHEN (a_id + 3) % 50 = (b_id + 3) % 50 THEN 1 ELSE 0 END) + "
        "(CASE WHEN a_id % 4 = b_id % 4 THEN 1 ELSE 0 END) + "
        "(CASE WHEN a_id % 3 = b_id % 3 THEN 1 ELSE 0 END) AS shared FROM p), "
        f"base AS ({unions}) "
        "SELECT * FROM base UNION ALL "
        "SELECT dst AS src, src AS dst, relation, weight, ptype, detail, pscore, priority, score "
        "FROM base WHERE detail = 'ref_title'"
    )


def _first_rule_wins_sql() -> str:
    return (
        "SELECT src, dst, relation, weight, ptype, detail, pscore, priority, score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY src, dst, relation ORDER BY priority) AS rn "
        f"FROM ({_rule_cascade_sql()}) base "
        "WHERE NOT (relation = 'related_to' AND (src + dst) % 5 = 0)"
        ") WHERE rn = 1"
    )


_DEDUP_ACTIONS_SQL = """
WITH e AS (
  SELECT 'd' || CAST(doc_id % 173 AS VARCHAR) AS src,
         'd' || CAST((doc_id * 5) % 173 AS VARCHAR) AS dst
  FROM documents
), deg AS (
  SELECT node_id, SUM(d) AS degree FROM (
    SELECT src AS node_id, COUNT(*) AS d FROM e GROUP BY src
    UNION ALL SELECT dst, COUNT(*) FROM e GROUP BY dst
  ) GROUP BY node_id
), p AS (
  SELECT a.doc_id AS ai, b.doc_id AS bi,
         0.9 + ((a.doc_id * 7 + b.doc_id * 11) % 100) / 1000.0 AS score
  FROM documents a CROSS JOIN (SELECT unnest([1, 2]) AS delta) d
  JOIN documents b ON b.doc_id = a.doc_id + d.delta
), pa AS (
  SELECT 'd' || CAST(ai AS VARCHAR) AS a_id, 'd' || CAST(bi AS VARCHAR) AS b_id, score,
         ((ai * 13) % 100) / 100.0 AS a_imp, ((bi * 13) % 100) / 100.0 AS b_imp,
         ai % 400 AS a_c, bi % 400 AS b_c,
         COALESCE(da.degree, 0) AS a_deg, COALESCE(db.degree, 0) AS b_deg
  FROM p
  LEFT JOIN deg da ON da.node_id = 'd' || CAST(ai AS VARCHAR)
  LEFT JOIN deg db ON db.node_id = 'd' || CAST(bi AS VARCHAR)
)
SELECT a_id, b_id, round(score, 6) AS score,
  CASE WHEN a_deg > b_deg * 2 OR b_deg > a_deg * 2 THEN 'merge'
       WHEN abs(a_imp - b_imp) > 0.3 THEN 'merge'
       WHEN score >= 0.98 THEN 'supersede'
       ELSE 'link' END AS action,
  CASE WHEN a_deg > b_deg * 2 OR b_deg > a_deg * 2 THEN (CASE WHEN a_deg > b_deg THEN a_id ELSE b_id END)
       WHEN abs(a_imp - b_imp) > 0.3 THEN (CASE WHEN a_imp > b_imp THEN a_id ELSE b_id END)
       WHEN score >= 0.98 THEN (CASE WHEN a_c > b_c THEN a_id ELSE b_id END)
       ELSE '' END AS keep,
  CASE WHEN a_deg > b_deg * 2 OR b_deg > a_deg * 2 THEN (CASE WHEN a_deg > b_deg THEN b_id ELSE a_id END)
       WHEN abs(a_imp - b_imp) > 0.3 THEN (CASE WHEN a_imp > b_imp THEN b_id ELSE a_id END)
       WHEN score >= 0.98 THEN (CASE WHEN a_c > b_c THEN b_id ELSE a_id END)
       ELSE '' END AS retire
FROM pa
"""


_WS_CHARS = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"

_CHUNK_PLAIN_SQL = f"""
WITH t AS (SELECT doc_id, string_split(replace(text, ' ', chr(10)), chr(10)) AS lines FROM documents),
l AS (SELECT doc_id, lines, unnest(generate_series(1, len(lines))) AS ord FROM t),
g AS (SELECT doc_id, (ord - 1) // 20 AS grp, string_agg(lines[ord], chr(10) ORDER BY ord) AS chunk
      FROM l GROUP BY doc_id, (ord - 1) // 20),
k AS (SELECT doc_id, grp, chunk FROM g WHERE trim(chunk, {_WS_CHARS}) <> '')
SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS BIGINT) AS chunk_idx, chunk FROM k
"""

_CHUNK_MD_SQL = f"""
WITH t AS (SELECT doc_id, string_split(replace(replace(text, ' the ', chr(10) || '#sec' || chr(10)), ' ', chr(10)), chr(10)) AS lines FROM documents),
l AS (SELECT doc_id, lines, unnest(generate_series(1, len(lines))) AS ord FROM t),
m AS (SELECT doc_id, ord, lines[ord] AS line,
      SUM(CASE WHEN ord > 1 AND lines[ord] LIKE '#%' THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY ord) AS sec FROM l),
g AS (SELECT doc_id, sec, trim(string_agg(line, chr(10) ORDER BY ord), {_WS_CHARS}) AS chunk
      FROM m GROUP BY doc_id, sec),
k AS (SELECT * FROM g WHERE chunk <> '')
SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sec) - 1 AS BIGINT) AS chunk_idx, chunk FROM k
"""


_TPCH_EDGES_SQL = (
    "SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS dst FROM nation "
    "UNION ALL SELECT 'n' || c_nationkey, 'c' || c_custkey FROM customer "
    "UNION ALL SELECT 'c' || o_custkey, 'o' || o_orderkey FROM orders"
)

_NEIGHBORS_SQL = (
    f"WITH e AS ({_TPCH_EDGES_SQL}), "
    "o AS (SELECT DISTINCT dst AS node_id FROM e WHERE src = 'n5'), "
    "i AS (SELECT DISTINCT src AS node_id FROM e WHERE dst = 'n5'), "
    "b AS (SELECT node_id FROM o UNION SELECT node_id FROM i) "
    "SELECT node_id, 'out' AS dir FROM o "
    "UNION ALL SELECT node_id, 'in' FROM i "
    "UNION ALL SELECT node_id, 'both' FROM b"
)

_REINFORCE_IDS_SQL = ", ".join(f"'d{i}'" for i in range(0, 60, 7))

_REINFORCE_SQL = f"""
WITH n AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS node_id, doc_id % 10 AS access_count,
  TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id % 300 AS INT)) AS ts FROM documents)
SELECT node_id,
  CASE WHEN node_id IN ({_REINFORCE_IDS_SQL}) THEN access_count + 1 ELSE access_count END AS access_count,
  CAST(CASE WHEN node_id IN ({_REINFORCE_IDS_SQL}) THEN TIMESTAMP '2026-01-01 00:00:00' ELSE ts END AS VARCHAR) AS last_accessed_at,
  CAST(CASE WHEN node_id IN ({_REINFORCE_IDS_SQL}) THEN TIMESTAMP '2026-01-01 00:00:00' ELSE ts END AS VARCHAR) AS updated_at
FROM n
"""

_REINFORCE_EDGES_SQL = f"""
WITH e AS (SELECT 'd' || CAST(doc_id % 173 AS VARCHAR) AS src,
  'd' || CAST((doc_id * 5) % 173 AS VARCHAR) AS dst,
  TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id % 300 AS INT)) AS ts FROM documents)
SELECT src, dst,
  CAST(CASE WHEN src IN ({_REINFORCE_IDS_SQL}) OR dst IN ({_REINFORCE_IDS_SQL})
    THEN TIMESTAMP '2026-01-01 00:00:00' ELSE ts END AS VARCHAR) AS updated_at
FROM e
"""


def _hybrid_full_sql() -> str:
    """Mirror of q_hybrid_full: the deterministic hashing-encoder query
    vector is computed here and inlined as a literal (the encoder itself is
    pytest-verified); cosine/BFS-proximity/blend/top-k logic is re-derived
    in SQL (chain graph ⇒ depth = |vec_id − anchor|)."""
    from cortex_spark.embed import encode_py

    qvec = "[" + ", ".join(repr(float(x)) for x in encode_py(_HYBRID_QUERY_TEXT, 64, 42)) + "]"
    kind_case = (
        "CASE vec_id % 6 "
        + " ".join(f"WHEN {i} THEN '{k}'" for i, k in enumerate(_HYBRID_KINDS))
        + " END"
    )
    return (
        "WITH n AS (SELECT vec_id, 'v' || CAST(vec_id AS VARCHAR) AS node_id, "
        f"{kind_case} AS kind, 'T' || CAST(vec_id AS VARCHAR) AS title, embedding FROM embeddings), "
        f"c AS (SELECT *, list_cosine_similarity(embedding::DOUBLE[], {qvec}::DOUBLE[]) AS vector_score FROM n), "
        "cand AS (SELECT * FROM c ORDER BY vector_score DESC, node_id ASC LIMIT 90), "
        "g AS (SELECT *, CASE WHEN vec_id IN (0, 50) THEN 0.0 "
        "WHEN least(abs(vec_id - 0), abs(vec_id - 50)) <= 3 "
        "THEN 1.0 / (1.0 + least(abs(vec_id - 0), abs(vec_id - 50))) ELSE 0.0 END AS graph_score FROM cand), "
        "f AS (SELECT *, 0.7 * vector_score + (1.0 - 0.7) * graph_score AS combined_score FROM g) "
        "SELECT node_id, kind, title, round(vector_score, 6) AS vector_score, "
        "round(graph_score, 6) AS graph_score, round(combined_score, 6) AS combined_score "
        "FROM f ORDER BY combined_score DESC, node_id ASC LIMIT 30"
    )


_TITLE_DERIVE_SQL = """
-- byte-aligned with title_col: longest char prefix whose UTF-8 encoding is
-- <= 200 bytes (descending scan; first n that fits wins), so the oracle
-- stays correct even if the corpus grows multibyte first lines.
SELECT doc_id,
  (SELECT substr(t, 1, g.n)
   FROM generate_series(1, 200) g(n)
   WHERE octet_length(encode(substr(t, 1, g.n))) <= 200
   ORDER BY g.n DESC LIMIT 1) AS title
FROM (
  SELECT doc_id, trim(regexp_replace(trim(split_part(
    CASE WHEN doc_id % 3 = 0 THEN '## ' ELSE '' END || replace(text, ' the ', chr(10)),
    chr(10), 1)), '^#+', '')) AS t
  FROM documents
)
"""

_PROMPT_SCORING_SQL = """
WITH v AS (
  SELECT doc_id,
    ((doc_id % 7) - 3) / 3.0 AS wa, (doc_id % 5) / 5.0 AS wb,
    (doc_id % 100) / 100.0 AS ew,
    ((doc_id % 21) - 10) / 10.0 AS sent,
    doc_id % 13 AS corrections,
    CASE doc_id % 3 WHEN 0 THEN 'success' WHEN 1 THEN 'partial' ELSE 'failure' END AS outcome
  FROM documents
), f AS (
  SELECT *,
    0.6 * wa + 0.4 * wb AS dot, abs(wa) + abs(wb) AS abs_sum,
    CASE outcome WHEN 'success' THEN 1.0 WHEN 'partial' THEN 0.5 ELSE 0.0 END AS task,
    least(corrections * 0.1, 1.0) AS penalty
  FROM v
), g AS (
  SELECT *,
    CASE WHEN abs_sum < 1e-7 THEN NULL
         ELSE least(greatest(dot / abs_sum, 0.0), 1.0) END AS fit,
    least(greatest(0.5 * sent + 0.3 * (1.0 - penalty) + 0.2 * task, 0.0), 1.0) AS obs
  FROM f
)
SELECT doc_id,
  round(COALESCE(fit, -1.0), 6) AS fit,
  round(CASE WHEN fit IS NOT NULL THEN least(greatest(0.5 * ew + 0.5 * fit, 0.0), 1.0) ELSE ew END, 6) AS score,
  round(obs, 6) AS obs_score,
  round(least(greatest(ew + 0.1 * (obs - ew), 0.0), 1.0), 6) AS new_weight
FROM g
"""


def _threshold_search_sql() -> str:
    from cortex_spark.embed import encode_py

    qvec = "[" + ", ".join(repr(float(x)) for x in encode_py(_HYBRID_QUERY_TEXT, 64, 42)) + "]"
    cos = f"list_cosine_similarity(embedding::DOUBLE[], {qvec}::DOUBLE[])"
    return (
        f"SELECT 'v' || CAST(vec_id AS VARCHAR) AS node_id, round({cos}, 6) AS vector_score "
        f"FROM embeddings WHERE {cos} >= 0.1"
    )


def _ann_lsh_sql(dim: int = 64, n_planes: int = 16, bands: int = 8, seed: int = 7) -> str:
    """DuckDB mirror of ann_topk_lsh at fixed seed: the hyperplane matrix is
    deterministic (blake2b-seeded numpy, linker/lsh.py:43-46), so it is
    inlined as full-precision literals; signatures pack the band's sign bits
    + band index << 32 exactly like band_sig_udf."""
    from cortex_spark.linker.lsh import _hyperplanes

    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes, seed)
    vals = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(pid, ", ".join(repr(float(x)) for x in vec))
        for pid, vec in enumerate(planes)
    )
    weights = "CASE " + " ".join(
        f"WHEN p.pid % {rows} = {r} THEN {1 << (rows - 1 - r)}" for r in range(rows)
    ) + " END"
    return f"""
WITH planes(pid, pvec) AS (VALUES {vals}),
sigs AS (
  SELECT e.vec_id,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pvec) > 0
                  THEN {weights} ELSE 0 END)::BIGINT
         + ((p.pid // {rows})::BIGINT << 32) AS sig
  FROM embeddings e, planes p
  GROUP BY e.vec_id, p.pid // {rows}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.sig = c.sig
  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS score
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
FROM scored QUALIFY rank <= 10
"""


def _ann_ivf_sql(dim: int = 64, n_centroids: int = 16, nprobe: int = 6, seed: int = 11) -> str:
    """DuckDB mirror of the fixed-quantizer IVF probe: cell rank is by raw
    dot product (normalization is a positive scalar — ranking-invariant),
    corpus vectors live in their top-1 cell, queries probe `nprobe` cells,
    exact cosine rescore + window rank inside the probed lists."""
    C = _ivf_fixed_centroids(dim, n_centroids, seed)
    vals = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(cid, ", ".join(repr(float(x)) for x in vec))
        for cid, vec in enumerate(C)
    )
    return f"""
WITH cents(cid, cvec) AS (VALUES {vals}),
qcells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC, c.cid ASC) AS rn
    FROM embeddings e, cents c WHERE e.vec_id < 8)
  WHERE rn <= {nprobe}
),
ccells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC, c.cid ASC) AS rn
    FROM embeddings e, cents c)
  WHERE rn = 1
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS score
  FROM qcells q JOIN ccells n ON q.cell = n.cell AND q.vec_id <> n.vec_id
  JOIN embeddings qe ON qe.vec_id = q.vec_id
  JOIN embeddings ne ON ne.vec_id = n.vec_id
)
SELECT query_id, neighbor_id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
FROM scored QUALIFY rank <= 10
"""


def _kg_triples_sql() -> str:
    """Golden VALUES oracle for the flagship triple emission (see
    q_kg_triples). The triple list was materialized by the independent
    pure-Python pipeline oracle (scripts/make_kg_golden.py) over the
    sf0.01 documents — the driver's correctness SF."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "kg_triples_sf0_01.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', '{}', '{}', {})".format(s, d, r, w) for s, d, r, w in golden["triples"]
    )
    return (
        "SELECT src, dst, relation, CAST(weight AS DOUBLE) AS weight "
        "FROM (VALUES\n" + vals + "\n) AS t(src, dst, relation, weight)"
    )


def _multimodal_sql() -> str:
    """Golden VALUES oracle for the multimodal decode plumbing: fixture
    bytes re-parsed by an INDEPENDENT minimal netpbm/FAKEIMG reader
    (scripts/make_multimodal_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "multimodal_decode.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, {}, {})".format(m, w, h, c, f0)
        for m, w, h, c, f0 in golden["rows"]
    )
    return ("SELECT media_id, width, height, channels, CAST(f0 AS DOUBLE) AS f0 "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, width, height, channels, f0)")


def _png_sql() -> str:
    """Golden VALUES oracle for the stdlib PNG codec: fixture bytes
    re-decoded by an INDEPENDENT scalar spec decoder
    (scripts/make_png_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "png_features.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, {}, {})".format(m, w, h, c, f0)
        for m, w, h, c, f0 in golden["rows"]
    )
    return ("SELECT media_id, width, height, channels, CAST(f0 AS DOUBLE) AS f0 "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, width, height, channels, f0)")


def _gif_sql() -> str:
    """Golden VALUES oracle for the stdlib GIF codec: fixture bytes
    re-decoded by an INDEPENDENT scalar spec decoder
    (scripts/make_gif_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "gif_features.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, {}, {})".format(m, w, h, c, f0)
        for m, w, h, c, f0 in golden["rows"]
    )
    return ("SELECT media_id, width, height, channels, CAST(f0 AS DOUBLE) AS f0 "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, width, height, channels, f0)")


def _jpeg_sql() -> str:
    """Golden VALUES oracle for the stdlib baseline-JPEG codec: fixture
    bytes re-decoded by an INDEPENDENT scalar T.81 decoder
    (scripts/make_jpeg_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "jpeg_features.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, {}, {})".format(m, w, h, c, f0)
        for m, w, h, c, f0 in golden["rows"]
    )
    return ("SELECT media_id, width, height, channels, CAST(f0 AS DOUBLE) AS f0 "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, width, height, channels, f0)")


def _avi_sql() -> str:
    """Golden VALUES oracle for the MJPEG-AVI path: fixture bytes re-parsed
    by an INDEPENDENT RIFF walk + scalar T.81 decoder
    (scripts/make_avi_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "avi_frames.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, {}, {}, {})".format(m, fi, ts, w, h, lm)
        for m, fi, ts, w, h, lm in golden["rows"]
    )
    return ("SELECT media_id, frame_idx, CAST(ts_ms AS BIGINT) AS ts_ms, width, height, "
            "CAST(luma AS DOUBLE) AS luma "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, frame_idx, ts_ms, width, height, luma)")


def _g711_sql() -> str:
    """Golden VALUES oracle for the G.711 μ-law/A-law WAV path: fixture
    bytes re-expanded by INDEPENDENT scalar ITU formulas
    (scripts/make_g711_golden.py), sf-independent (vec_id seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "g711_features.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, CAST({} AS BIGINT), {}, {})".format(m, c, r, d, rms, zcr)
        for m, c, r, d, rms, zcr in golden["rows"]
    )
    return ("SELECT media_id, channels, sample_rate, duration_ms, "
            "CAST(rms AS DOUBLE) AS rms, CAST(zcr AS DOUBLE) AS zcr "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, channels, sample_rate, duration_ms, rms, zcr)")


def _flac_sql() -> str:
    """Golden VALUES oracle for the FLAC path — GROUND TRUTH: lossless
    decode must reproduce the source signal, whose features are re-derived
    scalar-wise (scripts/make_flac_golden.py), sf-independent (vec_id
    seeds)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "flac_features.json")
    golden = json.load(open(path))
    vals = ",\n".join(
        "('{}', {}, {}, CAST({} AS BIGINT), {}, {})".format(m, c, r, d, rms, zcr)
        for m, c, r, d, rms, zcr in golden["rows"]
    )
    return ("SELECT media_id, channels, sample_rate, duration_ms, "
            "CAST(rms AS DOUBLE) AS rms, CAST(zcr AS DOUBLE) AS zcr "
            "FROM (VALUES\n" + vals +
            "\n) AS t(media_id, channels, sample_rate, duration_ms, rms, zcr)")


def _briefing_sql() -> str:
    """Golden VALUES oracle for the briefing report over the frozen
    subgraph (see q_briefing / scripts/make_kg_golden.py briefing_oracle)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "briefing_sf0_01.json")
    golden = json.load(open(path))

    def esc(s: str) -> str:
        return s.replace("'", "''")

    vals = ",\n".join(
        "('{}', {}, {}, '{}', '{}', '{}', {})".format(
            sec, idx, rank, nid, kind, esc(title), imp)
        for sec, idx, rank, nid, kind, title, imp in golden["rows"]
    )
    return ("SELECT section, section_idx, section_rank, node_id, kind, title, "
            "CAST(importance AS DOUBLE) AS importance FROM (VALUES\n" + vals +
            "\n) AS t(section, section_idx, section_rank, node_id, kind, title, importance)")


def oracle_sql() -> dict[str, str]:
    toks_cte = (
        "WITH t AS (SELECT doc_id, source, "
        "list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS toks "
        "FROM documents), "
        f"sh AS (SELECT doc_id, source, {_SHINGLES_SQL} AS sh FROM t) "
    )
    return {
        "extract_text": "SELECT doc_id, text FROM documents",
        "streaming_counts": (
            # append-mode watermark semantics: a (window, kind) row is
            # emitted iff window_end <= final watermark = max(ts) - 2h
            # (pinned in tests/test_streaming_windows.py)
            "WITH e AS (SELECT ts, event_type FROM events WHERE ts IS NOT NULL), "
            "wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM e) "
            "SELECT date_trunc('hour', ts) AS window_start, "
            "date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end, "
            "event_type AS kind, count(*) AS n FROM e "
            "GROUP BY 1, 2, 3 "
            "HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)"
        ),
        "classify": f"SELECT doc_id, {_CLASSIFY_SQL_CASE} AS kind FROM documents",
        "node_filter": (
            "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars >= 200 "
            "ORDER BY n_chars DESC, doc_id ASC LIMIT 50 OFFSET 5"
        ),
        "kind_histogram": (
            f"SELECT kind, count(*) AS n FROM (SELECT {_CLASSIFY_SQL_CASE} AS kind FROM documents) GROUP BY kind"
        ),
        "topk_per_group": (
            "SELECT lang, doc_id, n_chars, rnk FROM ("
            "SELECT lang, doc_id, n_chars, row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rnk "
            "FROM documents) WHERE rnk <= 5"
        ),
        "text_profile": (
            "SELECT doc_id, "
            "len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens, "
            "CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est, "
            f"round(({_QUALITY_SQL}), 6) AS quality FROM documents"
        ),
        "exact_dedup": (
            "SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash, "
            "min(doc_id) AS canonical_id, count(*) AS n_dups FROM documents GROUP BY 1"
        ),
        "minhash_signature": (
            toks_cte
            + "SELECT doc_id, "
            "list_min(list_transform(sh, s -> md5('0|' || s))) AS mh0, "
            "list_min(list_transform(sh, s -> md5('3|' || s))) AS mh3 "
            "FROM sh"
        ),
        "ngram_jaccard_window": (
            toks_cte
            + "SELECT * FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
            "round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0 "
            "ELSE len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))) END, 6) AS jaccard "
            "FROM sh a JOIN sh b ON a.source = b.source AND b.doc_id > a.doc_id) "
            "WHERE jaccard >= 0.05"
        ),
        "ann_lsh": _ann_lsh_sql(),
        "kg_triples": _kg_triples_sql(),
        "streaming_autolink": _streaming_autolink_sql(),
        "briefing": _briefing_sql(),
        "multimodal_decode": _multimodal_sql(),
        "png_features": _png_sql(),
        "gif_features": _gif_sql(),
        "jpeg_features": _jpeg_sql(),
        "avi_frames": _avi_sql(),
        "g711_features": _g711_sql(),
        "flac_features": _flac_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "ann_topk": (
            "SELECT query_id, neighbor_id, round(score, 6) AS score, rank FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS score, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rank "
            "FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id) WHERE rank <= 10"
        ),
        "embedding_neardup": (
            "SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
            "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos "
            "FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id AND b.vec_id - a.vec_id <= 20 "
            "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3"
        ),
        "sessionize": (
            "WITH g AS (SELECT user_id, event_id, ts, value, "
            "CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT user_id, event_id, ts, value, "
            "CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g) "
            "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start, round(sum(value), 6) AS total_value "
            "FROM s GROUP BY user_id, session_id"
        ),
        "decision_to_event": (
            "WITH s AS (SELECT user_id, event_id AS signup_id, ts AS signup_ts FROM events WHERE event_type = 'signup'), "
            "p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase') "
            "SELECT signup_id, "
            "min_by(purchase_id, strftime(purchase_ts, '%Y%m%d%H%M%S%f') || '|' || lpad(purchase_id::varchar, 12, '0')) AS first_purchase_id, "
            "count(*) AS n_purchases_7d "
            "FROM s JOIN p USING (user_id) "
            "WHERE purchase_ts > signup_ts AND epoch(purchase_ts) - epoch(signup_ts) <= 7*86400 "
            "GROUP BY signup_id"
        ),
        "temporal_pairs": (
            "SELECT a.user_id AS user_id, count(*) AS n_pairs FROM events a JOIN events b "
            "ON a.user_id = b.user_id AND b.event_id > a.event_id "
            "AND abs(epoch(a.ts) - epoch(b.ts)) <= 1800 GROUP BY a.user_id"
        ),
        "decay": (
            "SELECT event_id, round(value * exp(-0.01 * ((epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(ts)) / 86400.0)), 6) AS decayed_value "
            "FROM events WHERE value * exp(-0.01 * ((epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(ts)) / 86400.0)) >= 1.0"
        ),
        "bfs_depths": (
            "WITH l0 AS (SELECT 'r0' AS node_id), "
            "l1 AS (SELECT 'n' || n_nationkey AS node_id FROM nation WHERE n_regionkey = 0), "
            "l2 AS (SELECT DISTINCT 'c' || c_custkey AS node_id FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0), "
            "l3 AS (SELECT DISTINCT 'o' || o_orderkey AS node_id FROM orders "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0) "
            "SELECT node_id, 0 AS depth FROM l0 "
            "UNION ALL SELECT node_id, 1 FROM l1 "
            "UNION ALL SELECT node_id, 2 FROM l2 "
            "UNION ALL SELECT node_id, 3 FROM l3"
        ),
        "graph_roots_leaves": (
            "WITH e AS ("
            "SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS dst FROM nation "
            "UNION ALL SELECT 'n' || c_nationkey, 'c' || c_custkey FROM customer "
            "UNION ALL SELECT 'c' || o_custkey, 'o' || o_orderkey FROM orders), "
            "nodes AS (SELECT DISTINCT node_id FROM (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)), "
            "r AS (SELECT node_id, 'root' AS klass FROM nodes WHERE node_id NOT IN (SELECT DISTINCT dst FROM e)), "
            "l AS (SELECT node_id, 'leaf' AS klass FROM nodes WHERE node_id NOT IN (SELECT DISTINCT src FROM e)) "
            "SELECT klass, substr(node_id, 1, 1) AS prefix, count(*) AS n "
            "FROM (SELECT * FROM r UNION ALL SELECT * FROM l) GROUP BY klass, prefix"
        ),
        "degree": (
            "WITH e AS (SELECT l_partkey AS src, l_suppkey AS dst FROM lineitem), "
            "d AS (SELECT src AS node_id, count(*) AS d FROM e GROUP BY 1 "
            "UNION ALL SELECT dst AS node_id, count(*) AS d FROM e GROUP BY 1) "
            "SELECT node_id, CAST(sum(d) AS BIGINT) AS degree FROM d GROUP BY node_id ORDER BY degree DESC, node_id ASC LIMIT 100"
        ),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, "
            "round(sum(l_extendedprice), 4) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, "
            "round(avg(l_quantity), 6) AS avg_qty, count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "tpch_q3ish": (
            "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' "
            "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey ASC LIMIT 20"
        ),
        "dsl_filter": (
            f"WITH d AS (SELECT doc_id, {_CLASSIFY_SQL_CASE} AS kind, ({_QUALITY_SQL}) AS importance FROM documents) "
            "SELECT doc_id, kind, round(importance, 6) AS importance FROM d "
            "WHERE kind IN ('fact', 'decision') AND importance > 0.55"
        ),
        "write_gate": (
            f"WITH d AS (SELECT doc_id, text, ({_QUALITY_SQL}) AS imp FROM documents) "
            "SELECT doc_id, CASE "
            "WHEN strlen(text) < 20 OR len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) <= 1 THEN 'substance' "
            "WHEN imp >= 0.9 AND strlen(text) < 100 THEN 'specificity' "
            "WHEN imp >= 0.8 AND strlen(text) < 50 THEN 'specificity' "
            "WHEN imp >= 0.7 THEN 'specificity' "
            "ELSE 'pass' END AS gate_check FROM d"
        ),
        "hybrid_blend": (
            "SELECT vec_id, round(0.7 * ((vec_id % 100) / 100.0) + 0.3 * ((label + 1.0) / 10.0), 6) AS combined "
            "FROM embeddings ORDER BY combined DESC, vec_id ASC LIMIT 50"
        ),
        "simhash": _simhash_sql(seed=11, max_hamming=16),
        "rule_cascade": _rule_cascade_sql(),
        "config_rules": _config_rules_sql(),
        "dedup_actions": _DEDUP_ACTIONS_SQL,
        "first_rule_wins": _first_rule_wins_sql(),
        "chunk_plain": _CHUNK_PLAIN_SQL,
        "chunk_markdown": _CHUNK_MD_SQL,
        "neighbors": _NEIGHBORS_SQL,
        "reinforce": _REINFORCE_SQL,
        "reinforce_edges": _REINFORCE_EDGES_SQL,
        "hybrid_full": _hybrid_full_sql(),
        "threshold_search": _threshold_search_sql(),
        "vocab_check": (
            "WITH v AS (SELECT doc_id, "
            "['fact', 'custom-kind', 'Bad', 'with_underscore', '', 'kind2'][(doc_id % 6)::INT + 1] AS kind, "
            "['related_to', 'x-y', 'uses', 'Led_To', '', 'rel9'][(doc_id % 6)::INT + 1] AS relation "
            "FROM documents) "
            "SELECT doc_id, kind, "
            "kind <> '' AND regexp_matches(kind, '^[a-z0-9-]+$') AS kind_ok, "
            "kind <> '' AND regexp_matches(kind, '^[a-z0-9-]+$') AND kind IN ('fact', 'custom-kind') AS kind_allowed, "
            "relation, relation <> '' AND regexp_matches(relation, '^[a-z0-9_]+$') AS rel_ok FROM v"
        ),
        "gate_full": (
            # hand-derived expected reasons per (doc_id%12, doc_id%5) —
            # the Spark side computes them through the real gate columns
            "SELECT doc_id, "
            "CASE doc_id % 12 WHEN 7 THEN 'title too short' WHEN 8 THEN 'body too short' "
            "WHEN 9 THEN 'body is a bare URL' WHEN 10 THEN 'body is just a timestamp' "
            "WHEN 11 THEN 'decision without action word' ELSE '' END AS substance, "
            "CASE doc_id % 12 WHEN 1 THEN 'unresolved pronoun' "
            "WHEN 2 THEN 'unanchored temporal reference' WHEN 3 THEN 'unanchored temporal reference' "
            "WHEN 4 THEN 'high importance, thin body' WHEN 5 THEN 'high importance, thin body' "
            "WHEN 6 THEN 'importance requires tags' ELSE '' END AS specificity, "
            "CASE WHEN doc_id % 12 = 11 THEN '' ELSE "
            "CASE doc_id % 5 WHEN 1 THEN 'required field missing: confidence' "
            "WHEN 2 THEN 'confidence: expected number' WHEN 3 THEN 'confidence: exceeds maximum 1.0' "
            "WHEN 4 THEN 'status: value not allowed' ELSE '' END END AS schema_check "
            "FROM documents"
        ),
        "import_export": (
            "WITH n AS (SELECT doc_id, 'T' || CAST(doc_id AS VARCHAR) AS title, text AS body, "
            "CASE doc_id % 3 WHEN 0 THEN 'fact' WHEN 1 THEN 'goal' ELSE 'event' END AS kind, "
            "((doc_id * 13) % 100) / 100.0 AS importance FROM documents WHERE doc_id % 11 <> 0) "
            "SELECT substr(sha256(title || chr(0) || body || chr(0) || 'import'), 1, 32) AS node_id, "
            "kind, title, round(CAST(CAST(importance AS FLOAT) AS DOUBLE), 6) AS importance, "
            "'import' AS source_agent FROM n"
        ),
        "embed_input": (
            f"WITH d AS (SELECT doc_id, text, {_CLASSIFY_SQL_CASE} AS kind FROM documents) "
            "SELECT doc_id, upper(substr(kind, 1, 1)) || substr(kind, 2) || ': ' || substr(text, 1, 40) "
            "|| chr(10) || text || "
            "CASE WHEN doc_id % 7 = 0 THEN '' ELSE chr(10) || 'tags: g' || CAST(doc_id % 4 AS VARCHAR) "
            "|| ', h' || CAST(doc_id % 3 AS VARCHAR) END AS embed_input FROM d"
        ),
        "cursor_batch": (
            "WITH n AS (SELECT doc_id, 'd' || CAST(doc_id AS VARCHAR) AS node_id, "
            "TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(doc_id % 400 AS INT)) AS created_at, "
            "TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(doc_id % 400 AS INT)) + to_days(CAST(doc_id % 3 AS INT)) AS updated_at "
            "FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0), "
            "f AS (SELECT * FROM n WHERE created_at > TIMESTAMP '2024-06-01 00:00:00' "
            "OR updated_at > TIMESTAMP '2024-06-01 00:00:00' "
            "ORDER BY created_at ASC, node_id ASC LIMIT 120) "
            "SELECT node_id, CAST(created_at AS VARCHAR) AS created_at, "
            "CAST(updated_at AS VARCHAR) AS updated_at FROM f"
        ),
        "video_frames": (
            "WITH v AS (SELECT vec_id, 5 + vec_id % 5 AS nf FROM embeddings WHERE vec_id < 48), "
            "t AS (SELECT vec_id, unnest(generate_series(CAST(0 AS BIGINT), CAST(nf * 40 - 1 AS BIGINT), 100)) AS ts FROM v) "
            "SELECT 'v' || CAST(vec_id AS VARCHAR) AS media_id, "
            "CAST(floor(ts * 25 / 1000) AS INT) AS frame_idx, ts AS ts_ms, "
            "CAST(8 AS INT) AS width, CAST(6 AS INT) AS height FROM t"
        ),
        "audio_features": (
            "SELECT 'a' || CAST(vec_id AS VARCHAR) AS media_id, "
            "CAST(1 + vec_id % 2 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate, "
            "CAST((4000 + (vec_id % 5) * 400) / 8 AS BIGINT) AS duration_ms "
            "FROM embeddings WHERE vec_id < 64"
        ),
        "mentions_tags": (
            "WITH fx AS (SELECT doc_id, replace(replace(text, ' the ', "
            "' entity' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')), ' and ', "
            "' entity' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')) AS t FROM documents) "
            "SELECT doc_id, COALESCE(array_to_string(list_sort(list_distinct("
            "regexp_extract_all(lower(t), '(entity[0-9]{3})', 1)))[1:32], ','), '') AS tags FROM fx"
        ),
        "title_derive": _TITLE_DERIVE_SQL,
        "prompt_scoring": _PROMPT_SCORING_SQL,
        "dfs_order": (
            "WITH n0 AS (SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 0), "
            "c0 AS (SELECT nk, c_custkey AS ck FROM customer JOIN n0 ON c_nationkey = nk), "
            "o0 AS (SELECT nk, ck, o_orderkey AS ok FROM orders JOIN c0 ON o_custkey = ck), "
            "paths AS ("
            "SELECT 'r0' AS node_id, 0 AS depth, 'r0' AS p "
            "UNION ALL SELECT 'n' || nk, 1, 'r0' || chr(1) || 'r0-n' || nk FROM n0 "
            "UNION ALL SELECT 'c' || ck, 2, 'r0' || chr(1) || 'r0-n' || nk || chr(1) || 'n' || nk || '-c' || ck FROM c0 "
            "UNION ALL SELECT 'o' || ok, 3, 'r0' || chr(1) || 'r0-n' || nk || chr(1) || 'n' || nk || '-c' || ck || chr(1) || 'c' || ck || '-o' || ok FROM o0) "
            "SELECT node_id, depth, CAST(row_number() OVER (ORDER BY p) - 1 AS INT) AS visit_order FROM paths"
        ),
        "weighted_traverse": (
            "WITH n0 AS (SELECT n_nationkey, 0.5 + (n_nationkey % 10) / 25.0 AS w1 FROM nation WHERE n_regionkey = 0), "
            "c0 AS (SELECT c_custkey, w1, 0.5 + (c_custkey % 10) / 25.0 AS w2 FROM customer JOIN n0 ON c_nationkey = n_nationkey), "
            "o0 AS (SELECT o_orderkey, w1, w2, 0.5 + (o_orderkey % 10) / 25.0 AS w3 FROM orders JOIN c0 ON o_custkey = c_custkey) "
            "SELECT 'r0' AS node_id, 1.0 AS path_weight, CAST(0 AS INT) AS depth "
            "UNION ALL SELECT 'n' || n_nationkey, round(w1, 6), 1 FROM n0 "
            "UNION ALL SELECT 'c' || c_custkey, round(w1 * w2, 6), 2 FROM c0 "
            "UNION ALL SELECT 'o' || o_orderkey, round(w1 * w2 * w3, 6), 3 FROM o0"
        ),
        "shortest_path": (
            "SELECT CAST(0 AS INT) AS position, 'r' || (SELECT n_regionkey FROM nation WHERE n_nationkey = 5) AS node_id "
            "UNION ALL SELECT 1, 'n5' "
            "UNION ALL SELECT 2, 'c' || (SELECT min(c_custkey) FROM customer WHERE c_nationkey = 5)"
        ),
        "cyclic_nodes": (
            "SELECT 'd' || CAST(doc_id AS VARCHAR) AS node_id, "
            "CAST(CASE WHEN (doc_id % 40) < 20 THEN -1 ELSE doc_id % 20 END AS INT) AS layer "
            "FROM documents"
        ),
        "timetravel_bfs": (
            "WITH inc AS (SELECT 400 AS m), "
            "n0 AS (SELECT n_nationkey FROM nation WHERE n_regionkey = 0 "
            "AND TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(n_nationkey % 400 AS INT)) <= TIMESTAMP '2024-06-01 00:00:00'), "
            "c0 AS (SELECT c_custkey FROM customer JOIN n0 ON c_nationkey = n_nationkey "
            "WHERE TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(c_custkey % 400 AS INT)) <= TIMESTAMP '2024-06-01 00:00:00'), "
            "o0 AS (SELECT o_orderkey FROM orders JOIN c0 ON o_custkey = c_custkey "
            "WHERE TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(o_orderkey % 400 AS INT)) <= TIMESTAMP '2024-06-01 00:00:00') "
            "SELECT 'r0' AS node_id, 0 AS depth "
            "UNION ALL SELECT 'n' || n_nationkey, 1 FROM n0 "
            "UNION ALL SELECT 'c' || c_custkey, 2 FROM c0 "
            "UNION ALL SELECT 'o' || o_orderkey, 3 FROM o0"
        ),
        "subgraph_merge": (
            "WITH roots AS (SELECT 5 AS k UNION ALL SELECT 8), "
            "rk AS (SELECT k, n_regionkey AS rg FROM roots JOIN nation ON n_nationkey = k), "
            "d0 AS (SELECT k, 'n' || k AS node_id, 0 AS depth FROM roots), "
            "d1 AS (SELECT k, 'r' || rg AS node_id, 1 AS depth FROM rk "
            "UNION ALL SELECT k, 'c' || c_custkey, 1 FROM roots JOIN customer ON c_nationkey = k), "
            "d2 AS (SELECT rk.k, 'n' || n_nationkey AS node_id, 2 AS depth FROM rk JOIN nation ON n_regionkey = rg AND n_nationkey <> rk.k "
            "UNION ALL SELECT roots.k, 'o' || o_orderkey, 2 FROM roots JOIN customer ON c_nationkey = roots.k JOIN orders ON o_custkey = c_custkey) "
            "SELECT node_id, CAST(min(depth) AS INT) AS depth FROM "
            "(SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2) u "
            "GROUP BY node_id"
        ),
        "cc": (
            "WITH cust AS (SELECT c_custkey, n_regionkey FROM customer JOIN nation ON c_nationkey = n_nationkey), "
            "nodes AS ("
            "SELECT 'r' || n_regionkey AS node_id, n_regionkey AS rk FROM (SELECT DISTINCT n_regionkey FROM nation) "
            "UNION ALL SELECT 'n' || n_nationkey, n_regionkey FROM nation "
            "UNION ALL SELECT 'c' || c_custkey, n_regionkey FROM cust "
            "UNION ALL SELECT 'o' || o_orderkey, cust.n_regionkey FROM orders JOIN cust ON o_custkey = c_custkey), "
            "m AS (SELECT rk, min(node_id) AS component FROM nodes GROUP BY rk) "
            "SELECT node_id, component FROM nodes JOIN m USING (rk)"
        ),
        "topo_layers": (
            "WITH e AS (SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS dst FROM nation "
            "UNION ALL SELECT 'n' || c_nationkey, 'c' || c_custkey FROM customer "
            "UNION ALL SELECT 'c' || o_custkey, 'o' || o_orderkey FROM orders), "
            "nodes AS (SELECT DISTINCT node_id FROM (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)) "
            "SELECT node_id, CAST(CASE substr(node_id, 1, 1) WHEN 'r' THEN 0 WHEN 'n' THEN 1 "
            "WHEN 'c' THEN 2 ELSE 3 END AS INTEGER) AS layer FROM nodes"
        ),
        "dijkstra_costs": (
            # unique tree paths ⇒ closed-form per level; weights replicated
            "WITH n0 AS (SELECT n_nationkey, 0.5 + (n_nationkey % 10) / 25.0 AS w1 FROM nation WHERE n_regionkey = 0), "
            "c0 AS (SELECT c_custkey, w1, 0.5 + (c_custkey % 10) / 25.0 AS w2 FROM customer JOIN n0 ON c_nationkey = n_nationkey), "
            "o0 AS (SELECT o_orderkey, w1, w2, 0.5 + (o_orderkey % 10) / 25.0 AS w3 FROM orders JOIN c0 ON o_custkey = c_custkey) "
            "SELECT 'r0' AS node_id, 0.0 AS cost, 1.0 AS path_weight "
            "UNION ALL SELECT 'n' || n_nationkey, round(1 - w1, 6), round(w1, 6) FROM n0 "
            "UNION ALL SELECT 'c' || c_custkey, round((1 - w1) + (1 - w2), 6), round(w1 * w2, 6) FROM c0 "
            "UNION ALL SELECT 'o' || o_orderkey, round((1 - w1) + (1 - w2) + (1 - w3), 6), round(w1 * w2 * w3, 6) FROM o0"
        ),
        "score_decay": (
            f"WITH d AS (SELECT doc_id, {_CLASSIFY_SQL_CASE} AS kind, ({_QUALITY_SQL}) AS raw, "
            "TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(doc_id % 500 AS INT)) AS last_accessed_at, "
            "doc_id % 50 AS access_count FROM documents), "
            "f AS (SELECT doc_id, kind, raw, "
            "least((epoch(TIMESTAMP '2026-01-01 00:00:00') - epoch(last_accessed_at)) / 86400.0, 365.0) AS eff_days, "
            "least(1.0 + access_count * 0.05, 2.0) AS echo, "
            "CASE kind WHEN 'event' THEN 0.05 WHEN 'observation' THEN 0.04 WHEN 'decision' THEN 0.005 "
            "WHEN 'pattern' THEN 0.005 WHEN 'fact' THEN 0.01 WHEN 'preference' THEN 0.005 ELSE 0.02 END AS rate "
            "FROM d) "
            "SELECT doc_id, kind, round(raw * 0.85 + raw * greatest(exp(-rate * eff_days), 0.1) * echo * 0.15, 6) "
            "AS final_score FROM f"
        ),
        "retention": (
            "WITH n AS (SELECT doc_id, 'd' || doc_id AS node_id, "
            "TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(doc_id % 900 AS INT)) AS created_at, "
            "TIMESTAMP '2024-06-01 00:00:00' + to_days(CAST(doc_id % 600 AS INT)) AS last_accessed_at "
            "FROM documents), "
            "prot AS (SELECT DISTINCT 'd' || b.doc_id AS node_id FROM documents a "
            "JOIN documents b ON b.doc_id = a.doc_id + 1 AND b.source = a.source) "
            "SELECT node_id FROM n "
            "WHERE (epoch(TIMESTAMP '2026-06-01 00:00:00') - epoch(created_at)) / 86400.0 > 365 "
            "AND (epoch(TIMESTAMP '2026-06-01 00:00:00') - epoch(greatest(last_accessed_at, created_at))) / 86400.0 > 30 "
            "AND node_id NOT IN (SELECT node_id FROM prot)"
        ),
        "merge_semantics": (
            f"WITH base AS (SELECT doc_id, lang, source, ({_QUALITY_SQL}) AS importance, "
            "list_slice(list_sort(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
            "t -> t <> '' AND length(t) >= 7))), 1, 5) AS tags FROM documents), "
            "pairs AS (SELECT a.doc_id AS keep_id, b.doc_id AS ret_id FROM documents a "
            "JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 2 = 0) "
            "SELECT 'd' || k.doc_id AS node_id, "
            # array_to_string([]) is NULL in DuckDB but '' in Spark → coalesce
            "coalesce(array_to_string(k.tags || list_filter(r.tags, t -> NOT list_contains(k.tags, t)), ' '), '') AS tags_str, "
            "'lang=' || k.lang || ' p0=' || k.source || ' p1=' || r.source AS meta_str, "
            "round(CAST(CAST(greatest(k.importance, r.importance) AS FLOAT) AS DOUBLE), 6) AS importance, "
            "false AS deleted "
            "FROM pairs p JOIN base k ON k.doc_id = p.keep_id JOIN base r ON r.doc_id = p.ret_id "
            "UNION ALL "
            "SELECT 'd' || b.doc_id, coalesce(array_to_string(b.tags, ' '), ''), "
            "array_to_string(list_sort(['lang=' || b.lang, 'p' || (b.doc_id % 2) || '=' || b.source]), ' '), "
            "round(CAST(CAST(b.importance AS FLOAT) AS DOUBLE), 6), "
            "(b.doc_id IN (SELECT ret_id FROM pairs)) AS deleted "
            "FROM base b WHERE b.doc_id NOT IN (SELECT keep_id FROM pairs)"
        ),
        "briefing_rank": (
            f"WITH n AS (SELECT doc_id, 'd' || doc_id AS node_id, 'lang' || lang AS kind, "
            f"({_QUALITY_SQL}) AS importance, doc_id % 7 AS access_count FROM documents), "
            # active_context: 10 newest (created = base + doc_id min ⇒ doc_id desc)
            "ac AS (SELECT node_id, kind, importance, access_count FROM n "
            "WHERE importance >= 0.3 ORDER BY doc_id DESC LIMIT 10), "
            # auto-discovered sections ordered by Σ importance over all live nodes
            "sums AS (SELECT kind, sum(importance) AS tot FROM n GROUP BY kind), "
            "sorder AS (SELECT kind, row_number() OVER (ORDER BY tot DESC, kind ASC) AS s_ord FROM sums), "
            "ranked AS (SELECT node_id, kind, importance, access_count, "
            "row_number() OVER (PARTITION BY kind ORDER BY importance DESC, access_count DESC, node_id ASC) AS rnk "
            "FROM n WHERE importance >= 0.3), "
            "cand AS (SELECT r.*, s.s_ord FROM ranked r JOIN sorder s USING (kind) "
            "WHERE rnk <= 10 AND node_id NOT IN (SELECT node_id FROM ac)), "
            "cut AS (SELECT *, row_number() OVER (ORDER BY s_ord ASC, importance DESC, access_count DESC, node_id ASC) "
            "AS gpos FROM cand), "
            "picked AS (SELECT * FROM cut WHERE gpos <= 50 - (SELECT count(*) FROM ac)), "
            "final AS (SELECT 'active_context' AS section, node_id, importance, access_count FROM ac "
            "UNION ALL SELECT 'more_' || kind, node_id, importance, access_count FROM picked) "
            "SELECT section, CAST(row_number() OVER (PARTITION BY section "
            "ORDER BY importance DESC, access_count DESC, node_id ASC) AS INTEGER) AS section_rank, "
            "node_id, round(importance, 6) AS importance FROM final"
        ),
        "eviction": (
            f"WITH n AS (SELECT 'd' || doc_id AS node_id, ({_QUALITY_SQL}) AS imp, "
            "TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(doc_id % 400 AS INT)) AS created_at FROM documents) "
            "SELECT node_id FROM (SELECT node_id, "
            "row_number() OVER (ORDER BY imp ASC, created_at ASC, node_id ASC) AS rn FROM n) "
            "WHERE rn <= (SELECT count(*) FROM n) - 100"
        ),
        "decay_shielded": (
            f"WITH q AS (SELECT doc_id, ({_QUALITY_SQL}) AS imp FROM documents), "
            "e AS (SELECT 'e' || a.doc_id AS edge_id, a.doc_id AS s_id, b.doc_id AS d_id, "
            "0.06 + (a.doc_id % 100) / 100.0 AS w, "
            "TIMESTAMP '2025-01-01 00:00:00' + to_days(CAST(a.doc_id % 300 AS INT)) AS upd "
            "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1), "
            "j AS (SELECT e.*, qs.imp AS s_imp, qd.imp AS d_imp FROM e "
            "JOIN q qs ON qs.doc_id = e.s_id JOIN q qd ON qd.doc_id = e.d_id), "
            "dec AS (SELECT edge_id, w * exp(-(0.01 * (1 - greatest(s_imp, d_imp) * 0.8)) * "
            "((epoch(TIMESTAMP '2026-01-01 00:00:00') - epoch(upd)) / 86400.0)) AS nw FROM j) "
            # survivors filtered on the double; stored weight is float32
            "SELECT edge_id, round(CAST(CAST(nw AS FLOAT) AS DOUBLE), 6) AS weight FROM dec WHERE nw >= 0.05"
        ),
        "prompt_heads": (
            "WITH v AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS version "
            "FROM documents), "
            "m AS (SELECT source, max(version) AS version FROM v GROUP BY source) "
            "SELECT v.source AS slug, 'main' AS branch, CAST(v.version AS INTEGER) AS version, "
            "'p' || v.doc_id AS node_id FROM v JOIN m ON v.source = m.source AND v.version = m.version"
        ),
        # ann_lsh / briefing / kg_triples: non-SQL-expressible (stochastic
        # bucketing / full KG pipeline) → rows-only checks.
    }
