"""End-to-end KG-construction pipeline (the spark-submit entry).

    pages ──extract──▶ nodes ──link──▶ edges ──dedup/canonicalize──▶
    canonical node/edge tables (+ per-stage manifests/metrics/checkpoints)

Each stage is checkpointed via CheckpointStore, so a killed run resumes
from the last completed stage with identical output (north rule:
"resumable from checkpoint with per-partition lineage + metrics"). With no
output directory the same chain runs in memory (bench.py and the scale
scripts time it that way).

Run:  spark-submit --py-files cortex_spark.zip -m cortex_spark.pipeline.run
      (or `python -m cortex_spark.pipeline.run --pages <parquet> --out <dir>`)
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cortex_spark.canon.dedup import dedup_actions, dedup_pairs
from cortex_spark.canon.merge import canonicalize
from cortex_spark.extract.fused import pages_to_nodes_fused
from cortex_spark.linker.pipeline import link_nodes
from cortex_spark.linker.rules import LinkerConfig
from cortex_spark.pipeline.checkpoint import CheckpointStore, StageResult, config_hash


@dataclass
class PipelineConfig:
    embed_dim: int = 384
    embed_seed: int = 42
    langs: tuple[str, ...] = ("en",)
    use_lsh: bool = True
    # None: candidate_topk's adaptive (rows, bands) for the corpus size, with
    # lsh_bands as the base band count
    lsh_planes: int | None = 16
    lsh_bands: int = 8
    run_dedup: bool = True
    linker: LinkerConfig = field(default_factory=LinkerConfig)
    run_ts: str = "2026-01-01 00:00:00"

    def hash(self) -> str:
        d = asdict(self)
        return config_hash(d)

    @property
    def run_dt(self) -> datetime:
        return datetime.strptime(self.run_ts, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str | None,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Run all stages; returns summary metrics.

    With an `out_dir`, each stage is checkpointed there (and resumed when
    its manifest matches the config) and every mutation is appended to the
    audit log at `<out_dir>/audit`. With `out_dir=None` the run stays in
    memory: each stage is materialized by an eager `localCheckpoint` plus a
    count, no file is written, and every RDD the run persisted is released
    before it returns (a caller's `cache()` first materialized inside the
    run included), so only the summary is left.
    """
    cfg = cfg or PipelineConfig()
    store = CheckpointStore(out_dir, spark) if out_dir else None
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    persisted_before = None if store else set(persistent().keys())
    h = cfg.hash()
    t0 = time.time()
    summary: dict = {"config_hash": h, "stages": {}}

    def stage(name: str, build, partition_by: str) -> tuple[DataFrame, StageResult]:
        t = time.time()
        if store is None:
            df = build().localCheckpoint()
            rows = df.count()
            r = StageResult(name, "", rows, False, {"rows": rows})
        else:
            df, r = store.load_or_run(name, h, build, partition_by=[partition_by])
        summary["stages"][name] = {**asdict(r), "secs": round(time.time() - t, 3)}
        return df, r

    nodes, r1 = stage(
        "nodes",
        lambda: pages_to_nodes_fused(
            pages, langs=cfg.langs, embed_dim=cfg.embed_dim, embed_seed=cfg.embed_seed
        ),
        "kind",
    )

    lsh_kwargs = {"n_planes": cfg.lsh_planes, "bands": cfg.lsh_bands, "dim": cfg.embed_dim}
    if cfg.lsh_planes is None:
        # adaptive (rows, bands) for the nodes stage's row count: no count job
        lsh_kwargs["n_rows"] = r1.rows

    # The candidate and canon results below are built lazily, at most once
    # per build: only when a stage that needs them is not resumed.
    @functools.cache
    def _cands() -> DataFrame:
        # the similarity join is the expensive kernel — compute once, share
        # between the linker and the dedup scanner. Looked up at call time, so
        # a wrapper installed on linker.pipeline (perfbench --trace) sees it.
        from cortex_spark.linker.pipeline import ann_candidates

        cands = ann_candidates(nodes, cfg.linker, use_lsh=cfg.use_lsh, lsh_kwargs=lsh_kwargs)
        # materialized only when two stages read it
        return cands.localCheckpoint() if cfg.run_dedup else cands

    edges, r2 = stage(
        "edges",
        lambda: link_nodes(nodes, cfg.linker, run_ts=cfg.run_dt, candidates=_cands()),
        "relation",
    )

    @functools.cache
    def _canon() -> tuple[DataFrame, DataFrame, DataFrame]:
        # (nodes', edges', canonical map): both canonical stages and the
        # audit log share one canonicalize
        pairs = dedup_pairs(_cands(), cfg.linker.dedup_threshold)
        actions = dedup_actions(pairs, nodes, edges)
        return canonicalize(nodes, edges, actions, run_ts=cfg.run_dt)

    if cfg.run_dedup:
        _, r3 = stage("canonical_nodes", lambda: _canon()[0], "kind")
        cedges, _ = stage("canonical_edges", lambda: _canon()[1], "relation")

    if store is not None:
        # append-only audit log (policies/audit.rs analogue): one row per
        # mutation, derived from stage outputs; only for stages that ran fresh
        from cortex_spark.audit import AuditLog, audit_entries, canonicalization_audit

        alog = AuditLog(os.path.join(out_dir, "audit"), spark)
        if not r1.resumed:
            alog.append(audit_entries(nodes, "node.created", cfg.run_dt, actor="ingest"))
        if not r2.resumed:
            alog.append(audit_entries(edges, "edge.created", cfg.run_dt, actor="auto_linker", id_col="edge_id"))
        if cfg.run_dedup and not r3.resumed:
            dedup_e = cedges.filter(F.col("provenance.ptype") == "auto_dedup")
            alog.append(canonicalization_audit(nodes, _canon()[2], dedup_e, cfg.run_dt))
        summary["audit_rows"] = alog.read().count()
    else:
        # DataFrame.unpersist does not release a localCheckpoint's blocks;
        # unpersisting its RDD does
        for rdd_id, rdd in persistent().items():
            if rdd_id not in persisted_before:
                rdd.unpersist(False)

    summary["wall_secs"] = time.time() - t0
    summary["triples"] = summary["stages"].get("canonical_edges", summary["stages"]["edges"])["rows"]
    summary["triples_per_sec"] = summary["triples"] / max(summary["wall_secs"], 1e-9)
    return summary


def main() -> None:
    from cortex_spark.corpus import synth_pages
    from cortex_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="parquet path of pages table")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-lsh", action="store_true")
    args = ap.parse_args()

    spark = get_spark("cortex-kg-pipeline")
    pages = (
        synth_pages(spark, args.synth) if args.synth else spark.read.parquet(args.pages)
    )
    cfg = PipelineConfig(use_lsh=not args.no_lsh)
    summary = run_pipeline(spark, pages, args.out, cfg)
    print(json.dumps(summary, default=str))


if __name__ == "__main__":
    main()
