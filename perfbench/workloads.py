"""The benchmark's workloads, each driven through the product's public entry
points. A workload builds its inputs once in `setup`, runs one unit per
`unit` call and returns the unit's output signature, which `run.py`
compares across units and with the pinned value.

  batch_build        unit = pipeline.run.run_pipeline over a seeded page
                     table (what `python -m cortex_spark.pipeline.run` runs)
  agent_loop         unit = extract fresh pages, append them to a store,
                     pipeline.incremental.run_cycle with the store's
                     persisted LshIndexStore, append the new edges; then
                     briefing, a hybrid search through the index and a DSL
                     query over the updated store

Every input comes from `cortex_spark.corpus` under the run's seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.schemas import DEFAULT_KINDS as KINDS

# Input sizes. Set so that 4 + 22 × workloads runs fit the benchmark's
# time budget on a 4-core host; see README.md.
BUILD_PAGES = 500
BASE_PAGES = 300
FRESH_PAGES = 10
# The store's embedding width: PipelineConfig's default.
EMBED_DIM = 384
# run_cycle's clock: past every base page's warc_ts (corpus spans
# 2026-01-01 to 2026-04-01), so the first cycle's cursor (now − 24 h)
# selects exactly the fresh pages, stamped 12 h before now.
CYCLE_NOW = datetime(2026, 5, 1)
FRESH_TS = CYCLE_NOW - timedelta(hours=12)
# the corpus vocabulary the query texts are drawn from (corpus._WORDS head)
QUERY_WORDS = (
    "graph memory engine node edge vector index spark batch shuffle partition "
    "query latency storage schema corpus crawl entity relation pipeline"
).split()


def table_checksum(df: DataFrame, cols: list[str]) -> str:
    """Rows plus an order-independent hash of `cols`."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def rows_digest(rows) -> str:
    """Digest of collected result rows, with floats rounded to 6 places."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v if v is None or isinstance(v, (int, str, bool)) else str(v)

    blob = json.dumps([[norm(v) for v in r] for r in rows], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def check_edges(edges: DataFrame, nodes: DataFrame) -> None:
    """Edge ids are unique and every edge joins two nodes of the table."""
    ids = nodes.select(F.col("node_id").alias("id"))
    dangling = sum(
        edges.join(ids, edges[end] == ids["id"], "left_anti").count() for end in ("src", "dst")
    )
    dup = edges.count() - edges.select("edge_id").distinct().count()
    if dangling or dup:
        raise AssertionError(f"{dangling} dangling edge ends, {dup} duplicate edge ids")


def write_pages(spark, n: int, seed: int, path: str) -> tuple[DataFrame, str]:
    from cortex_spark.corpus import synth_pages

    synth_pages(spark, n, seed=seed).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    return pages, table_checksum(pages, ["url", "warc_ts", "html", "lang"])


class Workload:
    name = ""
    residual = ""  # layer that owns a unit's jobs outside any wrapped call
    layers: tuple[tuple[str, str, str], ...] = ()  # (layer, module, attr)

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.input_checksum = ""

    def setup(self) -> None:
        raise NotImplementedError

    def unit(self, k: int):
        """One timed unit; returns what `signature` needs."""
        raise NotImplementedError

    def signature(self, k: int, result) -> dict:
        """Untimed: check the unit's output and return its signature."""
        raise NotImplementedError

    def after_unit(self, k: int) -> None:
        """Drop the unit's outputs so the next unit starts from setup state."""

    def index_files(self) -> int:
        """Files under the store's LSH index after the unit, if it has one."""
        return 0


class BatchBuild(Workload):
    name = "batch_build"
    residual = "pipeline"
    layers = (
        ("extract", "cortex_spark.pipeline.run", "pages_to_nodes_fused"),
        ("linker.candidates", "cortex_spark.linker.pipeline", "ann_candidates"),
        ("linker.link", "cortex_spark.pipeline.run", "link_nodes"),
        ("canon.dedup", "cortex_spark.pipeline.run", "dedup_pairs"),
        ("canon.dedup", "cortex_spark.pipeline.run", "dedup_actions"),
        ("canon.merge", "cortex_spark.pipeline.run", "canonicalize"),
        ("canon.merge", "cortex_spark.canon.merge", "canonical_map"),
        ("audit", "cortex_spark.audit", "AuditLog.append"),
        ("audit", "cortex_spark.audit", "AuditLog.read"),
    )

    def setup(self) -> None:
        self.pages, self.input_checksum = write_pages(
            self.spark, BUILD_PAGES, self.seed, f"{self.work}/pages"
        )

    def _out(self, k: int) -> str:
        return f"{self.work}/build_{k}"

    def unit(self, k: int):
        from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

        return run_pipeline(self.spark, self.pages, self._out(k), PipelineConfig())

    def signature(self, k: int, summary) -> dict:
        edges = self.spark.read.parquet(f"{self._out(k)}/canonical_edges/data")
        check_edges(edges, self.spark.read.parquet(f"{self._out(k)}/canonical_nodes/data"))
        return {
            "stages": {s: v["rows"] for s, v in summary["stages"].items()},
            "audit_rows": summary["audit_rows"],
            "canonical_edges": table_checksum(edges, ["edge_id"]),
        }

    def after_unit(self, k: int) -> None:
        shutil.rmtree(self._out(k), ignore_errors=True)


class AgentLoop(Workload):
    """An agent's loop over a persisted store: ingest fresh pages through
    the incremental cycle, then read the graph the way the CLI's
    `briefing`, `search --hybrid` and `node list` do. The briefing's
    pattern section runs the graph layer's BFS.

    Setup extracts BASE_PAGES pages into the store's node table and indexes
    them with LshIndexStore at `<store>/lsh_index`; the edge table starts
    empty. Every unit starts from that state, so unit k repeats unit 0.
    """

    name = "agent_loop"
    residual = "pipeline.incremental"
    layers = (
        ("extract", "cortex_spark.extract.fused", "pages_to_nodes_fused"),
        ("linker.index", "cortex_spark.linker.index", "LshIndexStore.append"),
        ("linker.index", "cortex_spark.linker.index", "LshIndexStore.probe"),
        ("linker.link", "cortex_spark.pipeline.incremental", "apply_link_rules"),
        ("linker.link", "cortex_spark.linker.pipeline", "first_rule_wins"),
        ("briefing", "cortex_spark.briefing", "generate_briefing"),
        ("hybrid", "cortex_spark.hybrid", "hybrid_search"),
        ("graph", "cortex_spark.briefing", "bfs"),
        ("query_dsl", "cortex_spark.query_dsl", "query"),
    )

    def setup(self) -> None:
        from cortex_spark.corpus import gen_row
        from cortex_spark.extract.fused import pages_to_nodes_fused
        from cortex_spark.linker.index import LshIndexStore
        from cortex_spark.schemas import EDGES, PAGES

        spark = self.spark
        pages, base_sum = write_pages(spark, BASE_PAGES, self.seed, f"{self.work}/pages")
        # fresh pages continue the base corpus's id sequence, so their urls
        # (and node ids) are new, and are stamped past the cycle's cursor
        rows = [gen_row(self.seed, BASE_PAGES + j) for j in range(FRESH_PAGES)]
        for j, r in enumerate(rows):
            r["warc_ts"] = FRESH_TS + timedelta(seconds=j)
        path = f"{self.work}/fresh_pages"
        spark.createDataFrame(rows, PAGES).write.mode("overwrite").parquet(path)
        self.fresh_pages = spark.read.parquet(path)
        fresh_sum = table_checksum(self.fresh_pages, ["url", "warc_ts", "html", "lang"])
        self.input_checksum = f"{base_sum}+{fresh_sum}"

        self.base = f"{self.work}/base"
        pages_to_nodes_fused(pages, embed_dim=EMBED_DIM).write.partitionBy("kind").parquet(
            f"{self.base}/canonical_nodes/data"
        )
        spark.createDataFrame([], EDGES).write.parquet(f"{self.base}/canonical_edges/data")
        base_nodes = spark.read.parquet(f"{self.base}/canonical_nodes/data")
        LshIndexStore(f"{self.base}/lsh_index", spark, dim=EMBED_DIM).append(base_nodes)

        rng = random.Random(self.seed)
        # source_agent is the page's domain; the corpus's head domains
        # (site00..site04) are present at any BASE_PAGES used here
        self.agent = f"site{rng.randrange(5):02d}.example.com"
        self.text = " ".join(rng.sample(QUERY_WORDS, 3))
        self.dsl = f"kind:{rng.choice(sorted(KINDS))} AND importance>0.1 AND limit:20"
        self.store = f"{self.work}/store"
        self._restore()

    def _restore(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.base, self.store)

    def unit(self, k: int):
        # imported here: briefing builds Columns at import, which needs a
        # live SparkContext
        from cortex_spark import query_dsl
        from cortex_spark.briefing import generate_briefing
        from cortex_spark.extract.fused import pages_to_nodes_fused
        from cortex_spark.hybrid import hybrid_search
        from cortex_spark.linker.index import LshIndexStore
        from cortex_spark.pipeline.incremental import run_cycle

        spark, store = self.spark, self.store
        nodes_dir, edges_dir = f"{store}/canonical_nodes/data", f"{store}/canonical_edges/data"
        fresh = pages_to_nodes_fused(self.fresh_pages, embed_dim=EMBED_DIM)
        fresh.write.mode("append").partitionBy("kind").parquet(nodes_dir)
        idx = LshIndexStore.open(f"{store}/lsh_index", spark)
        new_edges, metrics = run_cycle(
            spark.read.parquet(nodes_dir), spark.read.parquet(edges_dir),
            f"{store}/cycle_meta.json", now=CYCLE_NOW, index_store=idx,
        )
        new_edges.write.mode("append").parquet(edges_dir)

        nodes, edges = spark.read.parquet(nodes_dir), spark.read.parquet(edges_dir)
        out = {"cycle": (new_edges, metrics)}
        out["briefing"] = generate_briefing(
            nodes, edges, self.agent, now=datetime(2026, 1, 1)
        ).collect()
        # search --hybrid, forced onto the index path: the store is below
        # hybrid.INDEX_ABOVE_CORPUS, where search would otherwise scan
        out["hybrid"] = hybrid_search(
            nodes, edges, self.text, embed_dim=EMBED_DIM, index=idx, use_index=True
        ).collect()
        # node list, filtered through the query DSL
        out["dsl"] = query_dsl.query(nodes, self.dsl, now=datetime(2026, 1, 1)).drop(
            "embedding"
        ).collect()
        return out

    def signature(self, k: int, out) -> dict:
        new_edges, metrics = out.pop("cycle")
        nodes = self.spark.read.parquet(f"{self.store}/canonical_nodes/data")
        check_edges(new_edges, nodes)
        n_fresh = nodes.filter(F.col("created_at") >= F.lit(FRESH_TS)).count()
        if metrics["nodes_processed"] != n_fresh:
            raise AssertionError(
                f"cycle processed {metrics['nodes_processed']} nodes, {n_fresh} are fresh"
            )
        scores = [r["combined_score"] for r in out["hybrid"]]
        if not scores or scores != sorted(scores, reverse=True):
            raise AssertionError(f"hybrid search: {len(scores)} hits, not ranked")
        sig = {name: rows_digest(rows) for name, rows in out.items()}
        sig.update(
            nodes_processed=metrics["nodes_processed"],
            edges_created=metrics["edges_created"],
            new_edges=table_checksum(new_edges, ["edge_id", "weight"]),
        )
        return sig

    def index_files(self) -> int:
        return sum(len(files) for _, _, files in os.walk(f"{self.store}/lsh_index"))

    def after_unit(self, k: int) -> None:
        self._restore()


WORKLOADS = {w.name: w for w in (BatchBuild, AgentLoop)}
