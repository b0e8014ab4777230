"""Order-of-magnitude scale point for the KG job (round-4 evidence).

Runs `run_pipeline` (extract → link → canon) once per leg at `n_pages`
(default 256k — 4× the largest previously committed evidence) in a FRESH
subprocess per leg (a second SparkContext in the same JVM inherits
degraded state), recording per-stage wall, cc round count over the full
linked-edge graph, and shuffle bytes from the Spark UI REST API. A final
low-parallelism determinism leg re-runs the same input and must produce a
bit-identical canonical-edge signature (sum of xxhash64 over the edge
triple, cast decimal(38,0) — Spark 4 ANSI overflow guard).

Usage: python scripts/bench_scale_point.py [n_pages=256000] [cpus=8]
                                           [timed_legs=2] [det_cpus=2]
Prints one JSON line; commit as BENCH_r04_scale.json + a BASELINE.md row.
Timed legs need a rested host (compare host_gemms_per_sec across legs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from bench import host_probe  # noqa: E402

_CHILD = """
import json, sys, time, urllib.request
sys.path.insert(0, {root!r})
from cortex_spark.canon.components import connected_components
from cortex_spark.corpus import synth_pages
from cortex_spark.pipeline.run import PipelineConfig, run_pipeline
from cortex_spark.session import get_spark

cpus, n_pages, frozen_lsh, skew, out = {cpus}, {n_pages}, {frozen_lsh}, {skew}, {out!r}
spark = get_spark(f"scale-point-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus * 2,
                  extra_conf={{"spark.ui.enabled": "true"}})
spark.sparkContext.setLogLevel("ERROR")

pages = synth_pages(spark, n_pages, seed=42, partitions=cpus * 2, skew=skew)
if frozen_lsh:
    # A/B leg: pre-band-boost parameters (rows frozen at 10, 20 bands) —
    # the formula whose mean bucket grows linearly with n past 512k rows.
    # It needs the node count, so this leg counts the nodes before the timer
    import numpy as _np
    from cortex_spark.extract.fused import pages_to_nodes_fused
    n_nodes = pages_to_nodes_fused(pages, embed_dim=64).count()
    lsh_rows = min(10, max(3, int(_np.ceil(_np.log2(max(n_nodes / 500, 1.0))))))
    lsh_bands = 20
    cfg = PipelineConfig(embed_dim=64, lsh_planes=lsh_rows * lsh_bands, lsh_bands=lsh_bands)
else:
    cfg = PipelineConfig(embed_dim=64, lsh_planes=None, lsh_bands=20)

t0 = time.time()
st = run_pipeline(spark, pages, out, cfg)["stages"]
n_nodes, n_edges = st["nodes"]["rows"], st["edges"]["rows"]
if not frozen_lsh:
    from cortex_spark.linker.lsh import choose_lsh_params
    lsh_rows, lsh_bands = choose_lsh_params(n_nodes)
cedges = spark.read.parquet(out + "/canonical_edges/data")

# cc over the FULL linked graph: the O(log^2 n) term under test
t3 = time.time()
cc_stats = {{}}
comp = connected_components(cedges, src="src", dst="dst", stats=cc_stats)
n_comp = comp.select("component").distinct().count()
t_cc = time.time() - t3

# determinism signature over the canonical edge triples (order-free)
from pyspark.sql import functions as F
sig_row = cedges.select(
    F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)")).alias("s"),
    F.count(F.lit(1)).alias("n"),
).first()
signature = [str(sig_row["s"]), int(sig_row["n"])]

# shuffle totals from the UI REST API (all completed stages)
shuffle_write = shuffle_read = peak_stage_write = 0
try:
    base = "http://localhost:4040/api/v1"
    apps = json.load(urllib.request.urlopen(base + "/applications", timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        base + f"/applications/{{app_id}}/stages?status=complete", timeout=10))
    for s in stages:
        shuffle_write += s.get("shuffleWriteBytes", 0)
        shuffle_read += s.get("shuffleReadBytes", 0)
        peak_stage_write = max(peak_stage_write, s.get("shuffleWriteBytes", 0))
except Exception as e:  # metrics are evidence, not correctness
    shuffle_write = shuffle_read = peak_stage_write = -1

total = time.time() - t0
print("CHILD_JSON " + json.dumps({{
    "cpus": cpus, "pages": n_pages, "nodes": n_nodes, "edges": n_edges,
    "lsh": {{"frozen": bool(frozen_lsh), "rows": lsh_rows, "bands": lsh_bands}},
    "canonical_edges": st["canonical_edges"]["rows"], "components": n_comp,
    "cc_rounds": cc_stats.get("rounds"),
    "extract_sec": round(st["nodes"]["secs"], 2), "link_sec": round(st["edges"]["secs"], 2),
    "canon_sec": round(st["canonical_nodes"]["secs"] + st["canonical_edges"]["secs"], 2),
    "cc_sec": round(t_cc, 2),
    "total_sec": round(total, 2),
    "triples_per_sec": round(n_edges / total, 1),
    "shuffle_write_bytes": shuffle_write, "shuffle_read_bytes": shuffle_read,
    "peak_stage_shuffle_write_bytes": peak_stage_write,
    "signature": signature,
}}))
"""


def one_leg(cpus: int, n_pages: int, timeout: int = 7200, frozen_lsh: bool = False,
            skew: bool = False) -> dict:
    # the child's pipeline output, removed with the leg
    with tempfile.TemporaryDirectory(prefix="scale-point-") as work:
        code = _CHILD.format(root=ROOT, cpus=cpus, n_pages=n_pages, frozen_lsh=frozen_lsh,
                             skew=skew, out=os.path.join(work, "kg"))
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=timeout
        )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_JSON "):
            return json.loads(line[len("CHILD_JSON "):])
    raise RuntimeError(f"leg failed (cpus={cpus}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def wait_for_health(min_gemms: float, max_wait: float = 7200.0) -> float:
    """Block until the host probe clears min_gemms (the VM's health swings
    by ~8× on hypervisor weather — rounds 2-4 all measured it; a timed leg
    on a sick host is noise, not evidence). Returns the passing probe."""
    t0 = time.time()
    while True:
        g = host_probe(8)
        if g >= min_gemms or time.time() - t0 > max_wait:
            if g < min_gemms:
                print(f"# health gate TIMED OUT at {g} gemms/s (wanted {min_gemms})",
                      file=sys.stderr)
            return g
        print(f"# host sick ({g} gemms/s < {min_gemms}), waiting...", file=sys.stderr)
        sys.stderr.flush()
        time.sleep(180)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    frozen = "--frozen-lsh" in sys.argv
    skew = "--skew" in sys.argv
    n_pages = int(args[0]) if len(args) > 0 else 256000
    cpus = int(args[1]) if len(args) > 1 else 8
    timed_legs = int(args[2]) if len(args) > 2 else 2
    det_cpus = int(args[3]) if len(args) > 3 else 2
    health_min = float(os.environ.get("SCALE_HEALTH_MIN", "1500"))
    health_wait = float(os.environ.get("SCALE_HEALTH_MAX_WAIT", "7200"))

    legs = []
    probes = []
    for _ in range(timed_legs):
        probes.append(wait_for_health(health_min, max_wait=health_wait))
        legs.append(one_leg(cpus, n_pages, frozen_lsh=frozen, skew=skew))
        probes.append(host_probe(8))
        time.sleep(45)
    best = min(legs, key=lambda r: r["total_sec"])
    det = one_leg(det_cpus, n_pages, frozen_lsh=frozen, skew=skew)
    print(json.dumps({
        "metric": "kg_scale_point",
        "n_pages": n_pages,
        "timed_cpus": cpus,
        "frozen_lsh": frozen,
        "skew": skew,
        "best": best,
        "all_total_secs": [r["total_sec"] for r in legs],
        "host_gemms_per_sec": probes,
        "determinism": {
            "cpus": det_cpus,
            "total_sec": det["total_sec"],
            "signature": det["signature"],
            "bit_identical": det["signature"] == best["signature"],
        },
    }))


if __name__ == "__main__":
    main()
