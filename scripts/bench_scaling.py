"""Scaling-efficiency evidence (north rule): run the SAME KG job on the SAME
input at two parallelism levels (local[N] vs local[4N] — the sandbox
stand-in for N vs 4N executors) and report throughput at both plus
efficiency = (throughput_4N / throughput_N) / 4.

Usage: python scripts/bench_scaling.py [n_pages] [N] [4N]
Default pair 8→32; pass e.g. `64000 2 8` for the low-core pair. Round-2
finding (BASELINE.md): this VM's AGGREGATE memory bandwidth DROPS from
~17.5 GB/s at 8 processes to ~6-10 GB/s at 32 (measured via a 512 MB
numpy streaming probe), so data-intensive stages anti-scale beyond ~8
cores — the 2→8 pair measures the engine, 8→32 measures the host ceiling.
Prints one JSON line; paste results into BASELINE.md / BENCH notes.
"""

from __future__ import annotations

import json
import os
import sys
import time


_CHILD_SNIPPET = """
import json, sys, time
sys.path.insert(0, {root!r})
from cortex_spark.corpus import synth_pages
from cortex_spark.pipeline.run import PipelineConfig, run_pipeline
from cortex_spark.session import get_spark

cpus, n_pages = {cpus}, {n_pages}
spark = get_spark(f"scaling-{{cpus}}", master=f"local[{{cpus}}]", shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
# extract + link in memory, at the adaptive LSH parameters
cfg = PipelineConfig(embed_dim=64, lsh_planes=None, lsh_bands=20, run_dedup=False)
# steady-state warmup, OUTSIDE the timed window and identical for both
# levels: a fresh JVM pays ~8-12 s of one-time codegen + Arrow python-worker
# spin-up + BLAS page-in, which is session state, not per-page work — on a
# real cluster a 100 TB job amortizes it over hours, but at bench size it
# is 25% of an 8-core leg and structurally under-reads the high level
# (BASELINE.md §Round-5 sizing note)
run_pipeline(spark, synth_pages(spark, 200, seed=7, partitions=cpus), None, cfg)
t0 = time.time()
st = run_pipeline(spark, synth_pages(spark, n_pages, seed=42, partitions=cpus * 2), None, cfg)["stages"]
secs = time.time() - t0
n_edges = st["edges"]["rows"]
print(json.dumps({{"cpus": cpus, "secs": round(secs, 2), "extract_secs": round(st["nodes"]["secs"], 2),
                   "link_secs": round(st["edges"]["secs"], 2), "nodes": st["nodes"]["rows"],
                   "triples": n_edges, "triples_per_sec": round(n_edges / secs, 1)}}))
"""


def one_run(cpus: int, n_pages: int) -> dict:
    """Each parallelism level runs in a FRESH subprocess — a second
    SparkContext in the same JVM inherits degraded state (observed 2-3×
    slowdowns for whichever level runs second, regardless of order)."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CHILD_SNIPPET.format(root=root, cpus=cpus, n_pages=n_pages)
    # budget scales with work-per-core (healthy ≈ 0.012 s·cpu/page, ×4 slack
    # for degraded windows): a flat 900 s cap silently converts big-input
    # low-core legs into TimeoutExpired (a healthy 2-cpu 128k leg runs
    # ~1400 s), while an unbounded one lets a hopeless window stall the
    # whole attempt loop
    budget = max(900, int(n_pages / max(cpus, 1) * 0.048))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=budget
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"scaling leg (cpus={cpus}, pages={n_pages}) failed rc={out.returncode}: "
            + (out.stderr or "")[-2000:]
        )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    """ABBA protocol with per-config MIN: this sandbox VM degrades 1.7-2×
    between consecutive Spark runs regardless of parallelism or process
    isolation (host ballooning/IO credits — raw 32-proc CPU burn shows no
    decay), so single-pass A-then-B comparisons are meaningless. Min-of-two
    per config samples each at its best available hardware."""
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_high = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    runs = {n_low: [], n_high: []}
    for cpus in (n_high, n_low, n_low, n_high):  # ABBA
        runs[cpus].append(one_run(cpus, n_pages))
        time.sleep(45)  # let the host's IO/memory credits recover between runs
    low = min(runs[n_low], key=lambda r: r["secs"])
    high = min(runs[n_high], key=lambda r: r["secs"])
    eff = (high["triples_per_sec"] / low["triples_per_sec"]) / (n_high / n_low)
    print(
        json.dumps(
            {
                "n_pages": n_pages,
                "pair": [n_low, n_high],
                "low": low,
                "high": high,
                "all_secs": {str(k): [r["secs"] for r in v] for k, v in runs.items()},
                "scaling_efficiency": round(eff, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
