"""Staged 512k-page scale point: bounded peak memory per stage (round-5).

The single-process 512k leg OOM-killed 3× in round 4: the whole
extract→link→canon job lived in one process tree and this sandbox
hard-kills any process at ~17 GB anon RSS (BASELINE.md §Round-4) — and a
real cluster executor has a fixed memory budget too. This script runs the
SAME job as scripts/bench_scale_point.py but CHAINS THE STAGES THROUGH
PARQUET in a fresh bounded-heap subprocess each (the cluster-shaped layout:
every stage is an independent spark-submit step resuming from the previous
stage's table, exactly how the checkpointed pipeline (pipeline/run.py)
restarts after a failure):

  1. extract   synth pages → nodes parquet
  2. cands     nodes → bucketed-GEMM candidate top-k → candidates parquet
               (optionally in --band-groups=k independent passes, each a
               fresh subprocess over bands/k bands, merged by per-node
               re-top-k — candidate-exact because any global top-k pair is
               in its own pass's top-k; bounds the GEMM stage's working
               set ∝ 1/k)
  3. edges     nodes + candidates → rule cascade → edges parquet
  4. canon     dedup actions → canonicalize → canonical edges + signature
               + cc rounds

A watchdog thread samples the child PROCESS-TREE RSS (/proc, no psutil)
every 2 s; the per-stage peak is committed evidence that memory is bounded
per stage, not ∝ corpus. SPARK_DRIVER_MEM defaults to 12g here (vs the
32 g bench default) so the JVM spills instead of growing into the kill
ceiling. A low-parallelism determinism leg re-runs the whole chain and
must reproduce a bit-identical canonical-edge signature.

Usage: python scripts/bench_scale_staged.py [n_pages=512000] [cpus=8]
            [det_cpus=4] [--band-groups=2] [--skip-det]
Prints one JSON line; commit as BENCH_r05_scale.json + a BASELINE.md row.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from bench import host_probe  # noqa: E402

_STAGE_HEADER = """
import json, sys, time, urllib.request
sys.path.insert(0, {root!r})
from cortex_spark.session import get_spark
from pyspark.sql import functions as F

cpus = {cpus}
spark = get_spark("scale-staged-{stage}-" + str(cpus), master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus * 2,
                  extra_conf={{"spark.ui.enabled": "true"}})
spark.sparkContext.setLogLevel("ERROR")
t0 = time.time()
"""

_STAGE_FOOTER = """
shuffle_write = shuffle_read = 0
try:
    base = "http://localhost:4040/api/v1"
    apps = json.load(urllib.request.urlopen(base + "/applications", timeout=10))
    stages_m = json.load(urllib.request.urlopen(
        base + "/applications/" + apps[0]["id"] + "/stages?status=complete", timeout=10))
    for s in stages_m:
        shuffle_write += s.get("shuffleWriteBytes", 0)
        shuffle_read += s.get("shuffleReadBytes", 0)
except Exception:
    shuffle_write = shuffle_read = -1
out["secs"] = round(time.time() - t0, 2)
out["shuffle_write_bytes"] = shuffle_write
out["shuffle_read_bytes"] = shuffle_read
print("STAGE_JSON " + json.dumps(out))
"""

_STAGES = {
    "extract": """
from cortex_spark.corpus import synth_pages
from cortex_spark.extract.fused import pages_to_nodes_fused
pages = synth_pages(spark, {n_pages}, seed=42, partitions=cpus * 2)
nodes = pages_to_nodes_fused(pages, embed_dim=64)
nodes.write.mode("overwrite").parquet({work!r} + "/nodes")
n = spark.read.parquet({work!r} + "/nodes").count()
out = {{"stage": "extract", "rows": n}}
""",
    "cands": """
from cortex_spark.linker.lsh import candidate_topk, choose_lsh_params
import numpy as np
nodes = spark.read.parquet({work!r} + "/nodes")
live = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False))).filter(F.col("embedding").isNotNull())
n_nodes = live.count()
group, n_groups, k = {group}, {n_groups}, 100
rows, bands_total = choose_lsh_params(n_nodes)
if n_groups == 1:
    cands = candidate_topk(live, k=k, dim=64, n_rows=n_nodes,
                           n_planes=rows * bands_total, bands=bands_total)
    cands.write.mode("overwrite").parquet({work!r} + "/cands")
    out = {{"stage": "cands", "rows": spark.read.parquet({work!r} + "/cands").count(),
            "lsh": [rows, bands_total]}}
else:
    # band-group pass: bands_total/n_groups bands with a group-derived seed
    # (independent hyperplanes per group; the UNION has the same total band
    # count, so the tuner's recall model is unchanged)
    bands_g = max(1, bands_total // n_groups) + (1 if group < bands_total % n_groups else 0)
    cands = candidate_topk(live, k=k, dim=64, n_rows=n_nodes,
                           n_planes=rows * bands_g, bands=bands_g,
                           seed=7 + 1000 * group)
    cands.write.mode("overwrite").parquet({work!r} + "/cands_g" + str(group))
    out = {{"stage": "cands_g" + str(group),
            "rows": spark.read.parquet({work!r} + "/cands_g" + str(group)).count(),
            "lsh": [rows, bands_g]}}
""",
    "cands_merge": """
from pyspark.sql import Window
parts = [spark.read.parquet({work!r} + "/cands_g" + str(g)) for g in range({n_groups})]
allc = parts[0]
for p in parts[1:]:
    allc = allc.unionByName(p)
# same pair found by several groups → one row via MAX(score), NOT
# dropDuplicates: the two groups compute the pair's cosine in different
# bucket-GEMM shapes (bands=18 vs 17), so the scores can differ by 1 ulp,
# and dropDuplicates keeps whichever arrives first — parallelism-dependent.
# That arrival-order ulp was the entire 512k cross-parallelism signature
# mismatch (18 of 108M pairs flipped at the rank-100 boundary; localized
# by diffing the stage parquets: cands_g0/g1 bit-identical across
# local[8]/local[16], divergence born here). max() is order-independent
# and matches the library merge (linker/lsh.py merge_topk reduceat-max).
# Then per-node re-top-k — candidate-exact vs a single pass with the
# union's band set (any pair in the global top-k is in its own pass's
# per-node top-k, so the union contains the true top-k).
w = Window.partitionBy("a_id").orderBy(F.desc("score"), F.asc("b_id"))
merged = (allc.groupBy("a_id", "b_id").agg(F.max("score").alias("score"))
          .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 100).drop("rn"))
merged.write.mode("overwrite").parquet({work!r} + "/cands")
out = {{"stage": "cands_merge", "rows": spark.read.parquet({work!r} + "/cands").count()}}
""",
    "edges": """
from cortex_spark.linker.pipeline import link_nodes
nodes = spark.read.parquet({work!r} + "/nodes")
cands = spark.read.parquet({work!r} + "/cands")
edges = link_nodes(nodes, candidates=cands)
edges.write.mode("overwrite").parquet({work!r} + "/edges")
out = {{"stage": "edges", "rows": spark.read.parquet({work!r} + "/edges").count()}}
""",
    "canon": """
from cortex_spark.canon.components import connected_components
from cortex_spark.canon.dedup import dedup_actions, dedup_pairs
from cortex_spark.canon.merge import canonicalize
nodes = spark.read.parquet({work!r} + "/nodes")
edges = spark.read.parquet({work!r} + "/edges")
cands = spark.read.parquet({work!r} + "/cands")
pairs = dedup_pairs(cands)
actions = dedup_actions(pairs, nodes, edges)
cnodes, cedges, _ = canonicalize(nodes, edges, actions)
cedges.write.mode("overwrite").parquet({work!r} + "/cedges")
cedges = spark.read.parquet({work!r} + "/cedges")
n_cedges = cedges.count()
t_cc = time.time()
cc_stats = {{}}
comp = connected_components(cedges, src="src", dst="dst", stats=cc_stats)
n_comp = comp.select("component").distinct().count()
sig_row = cedges.select(
    F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)")).alias("s"),
    F.count(F.lit(1)).alias("n"),
).first()
out = {{"stage": "canon", "rows": n_cedges, "components": n_comp,
        "cc_rounds": cc_stats.get("rounds"), "cc_sec": round(time.time() - t_cc, 2),
        "signature": [str(sig_row["s"]), int(sig_row["n"])]}}
""",
}


def _tree_rss_kb(pid: int) -> int:
    """Sum RSS over pid + all descendants via /proc (no psutil in-container)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            rss[int(d)] = int(parts[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            children.setdefault(ppid, []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return total


def run_stage(stage: str, cpus: int, work: str, n_pages: int = 0, group: int = 0,
              n_groups: int = 1, timeout: int = 10800, driver_mem: str = "12g") -> dict:
    code = (
        _STAGE_HEADER.format(root=ROOT, cpus=cpus, stage=stage)
        + _STAGES[stage].format(work=work, n_pages=n_pages, group=group, n_groups=n_groups)
        + _STAGE_FOOTER
    )
    env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem)
    proc = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, env=env)
    peak = {"kb": 0}
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            peak["kb"] = max(peak["kb"], _tree_rss_kb(proc.pid))
            stop.wait(2.0)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        subprocess.run(["pkill", "-9", "-f", "scale-staged"], check=False)
        raise
    finally:
        stop.set()
        t.join(timeout=5)
    for line in (stdout or "").splitlines():
        if line.startswith("STAGE_JSON "):
            out = json.loads(line[len("STAGE_JSON "):])
            out["peak_tree_rss_gb"] = round(peak["kb"] / 1024 / 1024, 2)
            return out
    raise RuntimeError(
        f"stage {stage} (cpus={cpus}) failed rc={proc.returncode} "
        f"peak_rss={peak['kb'] / 1024 / 1024:.1f}GB:\n{(stdout or '')[-1500:]}\n{(stderr or '')[-2500:]}"
    )


def run_chain(n_pages: int, cpus: int, work: str, n_groups: int, driver_mem: str) -> dict:
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    stages = [run_stage("extract", cpus, work, n_pages=n_pages, driver_mem=driver_mem)]
    if n_groups > 1:
        for g in range(n_groups):
            stages.append(run_stage("cands", cpus, work, group=g, n_groups=n_groups,
                                    driver_mem=driver_mem))
        stages.append(run_stage("cands_merge", cpus, work, n_groups=n_groups,
                                driver_mem=driver_mem))
    else:
        stages.append(run_stage("cands", cpus, work, n_groups=1, driver_mem=driver_mem))
    stages.append(run_stage("edges", cpus, work, driver_mem=driver_mem))
    stages.append(run_stage("canon", cpus, work, driver_mem=driver_mem))
    total = sum(s["secs"] for s in stages)
    canon = stages[-1]
    return {
        "cpus": cpus,
        "pages": n_pages,
        "nodes": stages[0]["rows"],
        "edges": next(s["rows"] for s in stages if s["stage"] == "edges"),
        "canonical_edges": canon["rows"],
        "components": canon["components"],
        "cc_rounds": canon["cc_rounds"],
        "signature": canon["signature"],
        "total_sec": round(total, 2),
        "peak_stage_rss_gb": max(s["peak_tree_rss_gb"] for s in stages),
        "stages": stages,
    }


def main() -> None:
    if "--help" in sys.argv or "-h" in sys.argv:
        print(__doc__)
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if len(args) > 0 else 512000
    cpus = int(args[1]) if len(args) > 1 else 8
    det_cpus = int(args[2]) if len(args) > 2 else 4
    n_groups = 1
    for a in sys.argv[1:]:
        if a.startswith("--band-groups="):
            n_groups = int(a.split("=")[1])
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "12g")
    # orphaned scratch from OOM-killed JVMs starves /tmp (64 GB seen once)
    if not any("java" in (open(f"/proc/{p}/comm").read() if p.isdigit() else "")
               for p in os.listdir("/proc") if p.isdigit()):
        shutil.rmtree("/tmp/spark-local", ignore_errors=True)
    probes = [host_probe(8)]
    timed = run_chain(n_pages, cpus, "/tmp/scale_staged_timed", n_groups, driver_mem)
    probes.append(host_probe(8))
    out: dict = {
        "metric": "kg_scale_point_staged",
        "n_pages": n_pages,
        "timed_cpus": cpus,
        "band_groups": n_groups,
        "driver_mem": driver_mem,
        "best": timed,
        "host_gemms_per_sec": probes,
    }
    if "--skip-det" not in sys.argv:
        det = run_chain(n_pages, det_cpus, "/tmp/scale_staged_det", n_groups, driver_mem)
        out["determinism"] = {
            "cpus": det_cpus,
            "total_sec": det["total_sec"],
            "signature": det["signature"],
            "bit_identical": det["signature"] == timed["signature"],
            "peak_stage_rss_gb": det["peak_stage_rss_gb"],
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
