"""Benchmark harness: headline queries + the KG pipeline at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "kg": {...}}

The KG job runs on a synthetic page corpus scaled off the sf dir (pages =
40 × |documents|, i.e. sf0.1 → 20k pages) and reports nodes/sec and
triples/sec alongside the per-query latencies. Set SPARK_GRAFT_BENCH_PAGES
to override the corpus size, SPARK_GRAFT_CPUS for parallelism (default:
the CPUs this process may run on, as cortex_spark.session sizes a session).
"""

from __future__ import annotations

import json
import os
import sys
import time


# the host probe's GEMM processes run one BLAS thread each, whatever the
# caller's environment: a multi-threaded BLAS per process measures
# oversubscription, not host health
_ONE_BLAS_THREAD = dict.fromkeys(("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"), "1")


def _burn(secs: float, start, q) -> None:
    import numpy as np

    a = np.random.RandomState(0).rand(512, 512).astype(np.float32)
    start.wait()  # every process is up before any starts counting
    t0 = time.time()
    n = 0
    while time.time() - t0 < secs:
        a @ a
        n += 1
    q.put(n)


def host_probe(procs: int, secs: float = 2.0) -> float:
    """512×512 float32 GEMMs/sec across `procs` processes, one BLAS thread
    each — a host-health fingerprint recorded alongside every bench run.
    This VM's Spark times swing 2-5× with host state (see BASELINE.md
    methodology); a degraded host reads 10-20% of its healthy figure, and
    wall-clock numbers taken then undersell the engine. The processes are
    spawned, not forked, so each loads its BLAS under the pinned thread
    count."""
    import multiprocessing as mp
    from unittest import mock

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    start = ctx.Barrier(procs)
    ps = [ctx.Process(target=_burn, args=(secs, start, q)) for _ in range(procs)]
    with mock.patch.dict(os.environ, _ONE_BLAS_THREAD):  # children inherit it at start
        for p in ps:
            p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return round(total / secs, 1)


def run_bench(sf_dir: str, cpus: int, pages_n: int | None = None) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from cortex_spark.corpus import synth_pages
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline
    from cortex_spark.session import get_spark

    # probe BEFORE the JVM exists (clean fork) — recorded in the output
    probe = {"8": host_probe(8), str(cpus): host_probe(cpus)}

    spark = get_spark("cortex-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}
    t_total = time.time()

    # 1. headline relational/dataops queries (forced with a count)
    HEADLINE = [
        "tpch_q1",
        "tpch_q3ish",
        "degree",
        "exact_dedup",
        "minhash_signature",
        "ann_topk",
        "ann_lsh",
        "sessionize",
        "text_profile",
        "classify",
        "extract_text",
        "cc",
    ]
    qs = entry_mod.queries()
    # min-of-two per query (same rationale as the kg samples below): the
    # first execution pays codegen + parquet-footer + JIT warmup, which is
    # session state, not query cost; both runs are full recomputations
    for name in HEADLINE:
        samples = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples.append(round(time.time() - t0, 3))
        results[name] = min(samples)

    # 2. KG pipeline on a synthetic corpus scaled off the sf dir.
    # Sampled TWICE, min per run reported: this VM's run-to-run host swing
    # is 1.5-2x at identical code (BASELINE.md methodology) — a single
    # sample measures the host slot, not the engine. Both samples recorded.
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_pages = pages_n or int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", 2 * n_docs))
    # the product's chain, in memory, at the adaptive LSH parameters
    cfg = PipelineConfig(embed_dim=64, lsh_planes=None, lsh_bands=20)

    def run_kg() -> dict:
        summary = run_pipeline(spark, synth_pages(spark, n_pages, seed=42), None, cfg)
        st = summary["stages"]
        kg_secs = summary["wall_secs"]
        n_nodes, n_edges = st["nodes"]["rows"], st["edges"]["rows"]
        return {
            "pages": n_pages,
            "nodes": n_nodes,
            "edges": n_edges,
            "canonical_edges": st["canonical_edges"]["rows"],
            "extract_sec": round(st["nodes"]["secs"], 2),
            "link_sec": round(st["edges"]["secs"], 2),
            "canon_sec": round(st["canonical_nodes"]["secs"] + st["canonical_edges"]["secs"], 2),
            "nodes_per_sec": round(n_nodes / kg_secs, 1),
            "triples_per_sec": round(n_edges / kg_secs, 1),
            "kg_secs": round(kg_secs, 3),
        }

    samples = [run_kg(), run_kg()]
    kg = min(samples, key=lambda s: s["kg_secs"])
    kg = dict(kg)
    kg["samples_kg_secs"] = [s["kg_secs"] for s in samples]
    kg["samples_link_sec"] = [s["link_sec"] for s in samples]
    results["kg_pipeline"] = kg.pop("kg_secs")

    total = time.time() - t_total
    spark.stop()  # free the local[32] JVM before the scaling subprocesses run
    return {
        "metric": "kg_pipeline_plus_headline_queries",
        "value": round(total, 3),
        "unit": "sec",
        "queries": results,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        "kg": kg,
        "host_gemms_per_sec": probe,
    }


# Host-health floor for the scaling leg (GEMMs/s at 8 procs). A healthy box
# reads ≈1800; the round-4 artifact that under-read efficiency (0.636) was
# taken at 340/529 — deep in the degraded band this VM visits (94-680,
# hypervisor weather). Numbers bounded by probes ≥ the floor have matched
# the in-suite guardrail (0.83+) every time they've been taken.
SCALE_HEALTH_MIN = float(os.environ.get("SPARK_GRAFT_SCALE_HEALTH_MIN", "1050"))


def run_scaling(n_pages: int, pair: tuple[int, int] = (2, 8)) -> dict:
    """North-rule evidence, embedded in every BENCH JSON: the SAME KG job on
    the SAME input at two parallelism levels (fresh subprocess per leg — a
    second SparkContext in one JVM inherits degraded state), throughput at
    both plus efficiency = (tps_high / tps_low) / (high / low). ABBA order
    with min-of-two per level: this VM's run-to-run swing is 1.5-2× at
    identical code (BASELINE.md methodology). The 2→8 pair is the one this
    host can serve — aggregate memory bandwidth DROPS past ~8 cores
    (BASELINE.md §Why), so 8→32 measures the host, not the engine.

    HEALTH-GATED WRITING (round-5): an efficiency number bounded by degraded
    probes is host noise, not engine evidence — the run defers while the
    before-probe is under SCALE_HEALTH_MIN, and a completed measurement
    whose bounding probes don't BOTH clear the floor is returned with
    `healthy: false` so main() records it as a note, NOT as the `scaling`
    key. Every attempt (deferrals included) is preserved in `attempts`."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
    from bench_scaling import one_run

    lo, hi = pair
    max_attempts = int(os.environ.get("SPARK_GRAFT_SCALE_ATTEMPTS", "3"))
    attempts: list[dict] = []
    for _ in range(max_attempts):
        # probe BOTH proc counts: the pair's raw efficiency only means
        # something against the host's own compute scaling at the same
        # concurrency — this VM's aggregate GEMM throughput grows ~1.7-2×
        # from 2 to 8 procs (shared memory bus + hypervisor), so a job that
        # speeds up 3.1× across 2→8 cores is already outrunning the host's
        # vectorized-compute ceiling; on a real N→4N cluster each executor
        # brings its own memory bus and the GEMM fraction scales linearly
        probe2_before = host_probe(lo)
        probe_before = host_probe(8)  # the floor is calibrated at 8 procs
        if probe_before < SCALE_HEALTH_MIN:
            attempts.append({"deferred_probe": probe_before})
            time.sleep(90)  # wait out the weather, then re-probe
            continue
        runs: dict[int, list[dict]] = {lo: [], hi: []}
        mid_probes: list[float] = []
        aborted_sick = False
        try:
            for i, cpus in enumerate((hi, lo, lo, hi)):  # ABBA
                runs[cpus].append(one_run(cpus, n_pages))
                if i < 3:
                    # probe BETWEEN legs: a mid-run sick window silently
                    # skews the ratio in whichever direction the weather
                    # fell (round-5 attempt3 read a flattering 0.967 with
                    # healthy bounding probes but a sick middle) — abort
                    # the attempt early instead of finishing a doomed run
                    m = host_probe(8)
                    mid_probes.append(m)
                    if m < SCALE_HEALTH_MIN:
                        aborted_sick = True
                        break
                time.sleep(20)
        except Exception as exc:  # a crashed leg degrades to a note
            attempts.append({"error": str(exc)[-600:]})
            continue
        if aborted_sick:
            attempts.append({"aborted_mid_run": mid_probes,
                             "legs_done": sum(len(v) for v in runs.values())})
            time.sleep(90)
            continue
        probe2_after = host_probe(lo)
        probe_after = host_probe(8)
        low = min(runs[lo], key=lambda r: r["secs"])
        high = min(runs[hi], key=lambda r: r["secs"])
        eff = (high["triples_per_sec"] / low["triples_per_sec"]) / (hi / lo)
        host_eff = round(
            (min(probe_before, probe_after) / max(probe2_before, probe2_after)) / 4, 3
        )
        rec = {
            "n_pages": n_pages,
            "pair": [lo, hi],
            "low": low,
            "high": high,
            "all_secs": {str(k): [r["secs"] for r in v] for k, v in runs.items()},
            "efficiency": round(eff, 3),
            "host_gemms_per_sec": [probe_before, probe_after],
            "host_gemms_per_sec_mid": mid_probes,
            "host_gemms_per_sec_lowproc": [probe2_before, probe2_after],
            # the host's OWN lo→8-proc compute-scaling efficiency over the
            # same window: what a perfectly-parallel pure-GEMM job could
            # score on this box. Raw `efficiency` above this line means the
            # engine is outrunning the shared-memory-bus ceiling.
            "host_compute_scaling_eff": host_eff,
            "health_floor": SCALE_HEALTH_MIN,
            # ALL probes through the run — bounding AND between-leg — must
            # clear the floor: the weather has to hold for the whole window
            # before the ratio is evidence
            "healthy": min([probe_before, probe_after, *mid_probes]) >= SCALE_HEALTH_MIN,
        }
        attempts.append(rec)
        if rec["healthy"]:
            rec["attempts"] = attempts[:-1]  # deferral/unhealthy history
            return rec
    return {
        "n_pages": n_pages,
        "pair": [lo, hi],
        "healthy": False,
        "health_floor": SCALE_HEALTH_MIN,
        "attempts": attempts,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cortex_spark.session import _machine_resources

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", _machine_resources()[0]))
    out = run_bench(sf_dir, cpus)
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        try:
            pair = tuple(
                int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8").split(",")
            )
            sc = run_scaling(
                int(os.environ.get("SPARK_GRAFT_BENCH_SCALING_PAGES", "64000")), pair=pair
            )
        except Exception as exc:
            sc = {"healthy": False, "error": str(exc)[-600:]}
        if sc.get("healthy"):
            out["scaling"] = sc
        else:
            # gate the WRITING: a number bounded by sick probes is weather,
            # not evidence — record what happened without claiming it
            out["scaling_note"] = {
                "skipped": "host below health floor for all attempts",
                **sc,
            }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
