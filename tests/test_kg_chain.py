"""One KG chain: `run_pipeline` is the only copy of extract → candidates →
link → dedup → canonicalize.

- An in-memory run (`out_dir=None`) and a persisted run of the same pages
  agree on every stage's rows and on the canonical edges.
- With bench.py's config, `run_pipeline` gives what bench.py's own chain
  gave before it called `run_pipeline` (that chain is kept here as the
  oracle).
- `lsh_planes=None` hands the nodes stage's row count to `candidate_topk`.
- An in-memory run releases every RDD it persisted.
- A fully resumed build reads its stages back with the written schema.
- bench.py and the scripts hold no copy of the chain.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from cortex_spark.corpus import synth_pages
from cortex_spark.pipeline import run as run_mod
from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 60
BENCH_CFG = PipelineConfig(embed_dim=64, lsh_planes=None, lsh_bands=20)
# scripts that keep a chain of their own, on purpose
OWN_CHAIN = {
    "bench_scale_staged.py",  # one subprocess per stage, band-group passes
    "bench_lsh_ab.py",  # the candidate stage alone, on synthetic vectors
}


def _checksum(edges) -> tuple[int, str]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("edge_id", "weight").cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], str(row["h"])


def _pages(spark):
    return synth_pages(spark, N_PAGES, seed=42)


def _in_memory(spark, monkeypatch, cfg):
    """Summary of an in-memory run plus the canonical-edge checksum, taken
    from canonicalize's output while the run still holds its checkpoints."""
    seen = []
    real = run_mod.canonicalize

    def canonicalize(*args, **kwargs):
        out = real(*args, **kwargs)
        seen.append(_checksum(out[1]))
        return out

    monkeypatch.setattr(run_mod, "canonicalize", canonicalize)
    summary = run_pipeline(spark, _pages(spark), None, cfg)
    assert len(seen) == 1
    return summary, seen[0]


def _rows(summary) -> dict:
    return {name: st["rows"] for name, st in summary["stages"].items()}


def test_in_memory_run_equals_persisted_run(spark, monkeypatch, tmp_path):
    out = str(tmp_path / "kg")
    persisted = run_pipeline(spark, _pages(spark), out, PipelineConfig())
    memory, checksum = _in_memory(spark, monkeypatch, PipelineConfig())

    assert _rows(memory) == _rows(persisted)
    assert list(memory["stages"]) == ["nodes", "edges", "canonical_nodes", "canonical_edges"]
    assert checksum == _checksum(spark.read.parquet(f"{out}/canonical_edges/data"))
    assert "audit_rows" not in memory and persisted["audit_rows"] > 0
    assert not any(st["resumed"] for st in memory["stages"].values())
    assert all(st["secs"] > 0 for st in memory["stages"].values())


def _bench_chain(spark, pages):
    """bench.py's kg leg as it was before it called run_pipeline."""
    from cortex_spark.canon.dedup import dedup_actions, dedup_pairs
    from cortex_spark.canon.merge import canonicalize
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes

    nodes = pages_to_nodes_fused(pages, embed_dim=64).localCheckpoint()
    n_nodes = nodes.count()
    cands = ann_candidates(nodes, lsh_kwargs={"dim": 64, "n_rows": n_nodes}).localCheckpoint()
    edges = link_nodes(nodes, candidates=cands).localCheckpoint()
    n_edges = edges.count()
    pairs = dedup_pairs(cands)
    actions = dedup_actions(pairs, nodes, edges)
    cnodes, cedges, _ = canonicalize(nodes, edges, actions)
    return {"nodes": n_nodes, "edges": n_edges, "canonical_edges": cedges.count()}, _checksum(cedges)


def test_bench_config_matches_bench_chain(spark, monkeypatch):
    want_rows, want_checksum = _bench_chain(spark, _pages(spark))
    summary, checksum = _in_memory(spark, monkeypatch, BENCH_CFG)
    rows = _rows(summary)
    assert {k: rows[k] for k in want_rows} == want_rows
    assert checksum == want_checksum


def test_adaptive_lsh_gets_the_nodes_row_count(spark, monkeypatch):
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker import pipeline as linker_pipeline
    from cortex_spark.linker.pipeline import linkable

    calls = []
    real = linker_pipeline.candidate_topk

    def candidate_topk(nodes, **kwargs):
        out = real(nodes, **kwargs)
        calls.append((kwargs, sorted(tuple(r) for r in out.collect())))
        return out

    monkeypatch.setattr(linker_pipeline, "candidate_topk", candidate_topk)
    summary = run_pipeline(spark, _pages(spark), None, BENCH_CFG)
    monkeypatch.setattr(linker_pipeline, "candidate_topk", real)

    (kwargs, got), = calls
    n_nodes = summary["stages"]["nodes"]["rows"]
    assert kwargs["n_rows"] == n_nodes and kwargs["n_planes"] is None
    nodes = linkable(pages_to_nodes_fused(_pages(spark), embed_dim=64))
    by_hand = real(nodes, k=kwargs["k"], dim=64, n_rows=n_nodes)  # bench.py's own call
    assert got == sorted(tuple(r) for r in by_hand.collect())


def test_in_memory_run_releases_its_rdds(spark):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    run_pipeline(spark, _pages(spark), None, BENCH_CFG)
    assert persistent().size() <= before


def test_resumed_build_reads_the_written_frames(spark, monkeypatch, tmp_path):
    from cortex_spark.pipeline.checkpoint import CheckpointStore

    frames = []
    real = CheckpointStore.load_or_run

    def load_or_run(self, stage, *args, **kwargs):
        df, r = real(self, stage, *args, **kwargs)
        frames.append((stage, r.resumed, df.schema, sorted(map(str, df.collect()))))
        return df, r

    monkeypatch.setattr(CheckpointStore, "load_or_run", load_or_run)
    out = str(tmp_path / "kg")
    cfg = PipelineConfig(embed_dim=64)
    first = run_pipeline(spark, _pages(spark), out, cfg)
    again = run_pipeline(spark, _pages(spark), out, cfg)

    assert all(st["resumed"] for st in again["stages"].values())
    assert _rows(again) == _rows(first)
    fresh, resumed = frames[:4], frames[4:]
    assert [f[1] for f in fresh] == [False] * 4 and [f[1] for f in resumed] == [True] * 4
    for (stage, _, schema, rows), (_, _, schema2, rows2) in zip(fresh, resumed):
        assert schema == schema2, stage
        assert rows == rows2, stage


CHAIN_CALL = re.compile(r"\b(link_nodes|dedup_actions|canonicalize)\(")


def test_no_copy_of_the_chain():
    scripts = sorted(n for n in os.listdir(os.path.join(ROOT, "scripts")) if n.endswith(".py"))
    offenders = {}
    for path in ["bench.py"] + [f"scripts/{n}" for n in scripts if n not in OWN_CHAIN]:
        with open(os.path.join(ROOT, path)) as f:
            calls = sorted(set(CHAIN_CALL.findall(f.read())))
        if calls:
            offenders[path] = calls
    assert offenders == {}, "call run_pipeline instead"
