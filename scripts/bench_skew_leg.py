"""Round-5 stretch leg: per-node link cost under crawl-shaped skew.

The committed scale points (64k/256k/512k) use the uniform synthetic corpus
(Zipf(1.4) domains, no mirror clusters). Real web crawls are nastier:
template/mirror near-dup clusters (giant LSH buckets) and a Zipf(2.0)
domain head (top domain ≈60% of rows). `synth_pages(skew=True)`
(corpus.py:gen_row) generates exactly that pathology; this script measures
whether the hot-bucket cap + sized partitions hold the per-node link cost
flat under it.

Protocol mirrors bench_lsh_ab.py: interleaved U-S-S-U arms in one session
(fresh subprocess per leg), host probe before every leg, min-of-two per
arm, identical page count and parallelism. Verdict criterion (VERDICT.md
round-4 task #8): skew-arm per-node link cost within ~15% of the uniform
arm on comparable probes.

Usage: python scripts/bench_skew_leg.py [n_pages=64000] [cpus=8]
Prints one JSON line; commit as BENCH_r05_skew.json + a BASELINE.md note.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from bench import host_probe  # noqa: E402

_CHILD = """
import json, sys, time
sys.path.insert(0, {root!r})
from cortex_spark.corpus import synth_pages
from cortex_spark.pipeline.run import PipelineConfig, run_pipeline
from cortex_spark.session import get_spark

cpus, n_pages, skew = {cpus}, {n_pages}, {skew}
spark = get_spark(f"skewleg-{{cpus}}", master=f"local[{{cpus}}]", shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
cfg = PipelineConfig(embed_dim=64, lsh_planes=None, lsh_bands=20, run_dedup=False)
# identical steady-state warmup to bench_scaling's child (outside timing)
run_pipeline(spark, synth_pages(spark, 200, seed=7, partitions=cpus), None, cfg)
t0 = time.time()
pages = synth_pages(spark, n_pages, seed=42, partitions=cpus * 2, skew=skew)
st = run_pipeline(spark, pages, None, cfg)["stages"]
secs = time.time() - t0
n_nodes, link_secs = st["nodes"]["rows"], st["edges"]["secs"]
print(json.dumps({{"skew": bool(skew), "cpus": cpus, "pages": n_pages,
                   "secs": round(secs, 2), "extract_secs": round(st["nodes"]["secs"], 2),
                   "link_secs": round(link_secs, 2), "nodes": n_nodes,
                   "edges": st["edges"]["rows"],
                   "per_node_link_ms": round(1000.0 * link_secs / max(n_nodes, 1), 3)}}))
"""


def one_leg(cpus: int, n_pages: int, skew: bool) -> dict:
    code = _CHILD.format(root=ROOT, cpus=cpus, n_pages=n_pages, skew=skew)
    budget = max(1200, int(n_pages / max(cpus, 1) * 0.10))  # skew arm links more edges
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=budget)
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(f"skew leg (skew={skew}) failed rc={out.returncode}: "
                           + (out.stderr or "")[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 64000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    legs = []
    for skew in (False, True, True, False):  # interleaved U-S-S-U
        probe = host_probe(8)
        leg = one_leg(cpus, n_pages, skew)
        leg["probe_before"] = probe
        legs.append(leg)
        print(json.dumps(leg), file=sys.stderr)
        time.sleep(20)
    uni = min((l for l in legs if not l["skew"]), key=lambda l: l["per_node_link_ms"])
    sk = min((l for l in legs if l["skew"]), key=lambda l: l["per_node_link_ms"])
    out = {
        "metric": "skew_vs_uniform_per_node_link_cost",
        "n_pages": n_pages,
        "cpus": cpus,
        "uniform": uni,
        "skew": sk,
        "per_node_ratio_skew_over_uniform": round(
            sk["per_node_link_ms"] / uni["per_node_link_ms"], 3),
        "all_legs": legs,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
