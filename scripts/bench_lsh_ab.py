"""Interleaved frozen-vs-tuned LSH A/B at the tuner's engagement scale.

Round-4's A/B (BENCH_r04_scale_frozen_ab.json) ran its two arms at wildly
different host health (736/950 vs 565/70 GEMMs/s), leaving the wall-clock
trade of the self-tuning (rows, bands) formula (lsh.py:choose_lsh_params)
unmeasured. This script isolates the candidate stage (embeddings-only — no
extract/rules noise) and interleaves the arms T-F-F-T in ONE session,
fresh subprocess per leg, host probe before every leg, min-of-two per arm:

- corpus: n seeded-deterministic isotropic vectors (the tuner's model
  regime; per-row default_rng(id) in a mapInPandas generator, so the data
  is identical across arms and parallelism) with PLANTED near-duplicate
  pairs (every id ≡ 0 mod 20 has id+1 = same vector + small noise,
  cos ≈ design_sim+) — each arm's recall of the planted pairs directly
  measures the recall-compensation claim, not just edge-count deltas,
- tuned arm: choose_lsh_params(n) (rows grows past the clamp, bands
  compensate); frozen arm: the pre-round-4 formula (rows capped at 10,
  bands fixed 20) whose mean bucket grows ∝ n,
- per leg: candidate wall, candidate pairs, planted-pair recall, shuffle
  bytes (UI REST), LSH params, bounding host probes.

Usage: python scripts/bench_lsh_ab.py [n_rows=1000000] [cpus=8] [k=100]
Prints one JSON line; commit as BENCH_r05_lsh_ab.json + a BASELINE.md note
stating the measured crossover for choose_lsh_params.
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
import json, sys, time, urllib.request
import numpy as np
import pandas as pd
sys.path.insert(0, {root!r})
from cortex_spark.session import get_spark
from cortex_spark.linker.lsh import candidate_topk, choose_lsh_params
from pyspark.sql import functions as F
from pyspark.sql import types as T

n, cpus, k, frozen = {n}, {cpus}, {k}, {frozen}
DIM = 64
spark = get_spark(f"lsh-ab-{{'f' if frozen else 't'}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus * 2,
                  extra_conf={{"spark.ui.enabled": "true"}})
spark.sparkContext.setLogLevel("ERROR")

schema = T.StructType([T.StructField("node_id", T.StringType()),
                       T.StructField("embedding", T.ArrayType(T.FloatType()))])

def gen(batches):
    for b in batches:
        for ids in np.array_split(b["id"].to_numpy(), max(1, len(b) // 10000)):
            out = np.empty((len(ids), DIM), dtype=np.float32)
            for j, i in enumerate(ids):
                i = int(i)
                if i % 20 == 1:  # planted near-dup of i-1: cos ~ 0.87
                    base = np.random.default_rng(i - 1).standard_normal(DIM)
                    noise = np.random.default_rng(10**9 + i).standard_normal(DIM)
                    v = base + 0.55 * noise
                else:
                    v = np.random.default_rng(i).standard_normal(DIM)
                out[j] = (v / np.linalg.norm(v)).astype(np.float32)
            yield pd.DataFrame({{"node_id": [f"n{{int(i):08d}}" for i in ids],
                                 "embedding": [r.tolist() for r in out]}})

rows_df = spark.range(n, numPartitions=cpus * 2).mapInPandas(gen, schema).localCheckpoint()
assert rows_df.count() == n

if frozen:
    rows_p = min(10, max(3, int(np.ceil(np.log2(max(n / 500, 1.0))))))
    bands = 20
else:
    rows_p, bands = choose_lsh_params(n)

t0 = time.time()
cands = candidate_topk(rows_df, k=k, dim=DIM, n_rows=n,
                       n_planes=rows_p * bands, bands=bands).localCheckpoint()
n_pairs = cands.count()
wall = time.time() - t0

# planted-pair recall: (n_i, n_{{i+1}}) for i ≡ 0 mod 20 must surface (either
# orientation — candidate_topk emits ordered pairs both ways)
planted = spark.range(0, n - 1, 20).select(
    F.format_string("n%08d", F.col("id")).alias("a_id"),
    F.format_string("n%08d", F.col("id") + 1).alias("b_id"))
hit = cands.join(planted, ["a_id", "b_id"], "left_semi").count()
total_planted = planted.count()

shuffle_write = shuffle_read = 0
try:
    base = "http://localhost:4040/api/v1"
    apps = json.load(urllib.request.urlopen(base + "/applications", timeout=10))
    for s in json.load(urllib.request.urlopen(
            base + "/applications/" + apps[0]["id"] + "/stages?status=complete", timeout=10)):
        shuffle_write += s.get("shuffleWriteBytes", 0)
        shuffle_read += s.get("shuffleReadBytes", 0)
except Exception:
    shuffle_write = shuffle_read = -1

print("LEG_JSON " + json.dumps({{
    "arm": "frozen" if frozen else "tuned", "cpus": cpus, "n": n,
    "lsh_rows": rows_p, "lsh_bands": bands,
    "cand_wall_sec": round(wall, 2), "cand_pairs": n_pairs,
    "planted_recall": round(hit / total_planted, 5), "planted_pairs": total_planted,
    "shuffle_write_bytes": shuffle_write, "shuffle_read_bytes": shuffle_read,
}}))
"""


def one_leg(n: int, cpus: int, k: int, frozen: bool, timeout: int = 7200) -> dict:
    code = _CHILD.format(root=ROOT, n=n, cpus=cpus, k=k, frozen=frozen)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=timeout)
    for line in (out.stdout or "").splitlines():
        if line.startswith("LEG_JSON "):
            return json.loads(line[len("LEG_JSON "):])
    raise RuntimeError(
        f"A/B leg failed (frozen={frozen}) rc={out.returncode}:\n"
        f"{(out.stdout or '')[-1500:]}\n{(out.stderr or '')[-2500:]}")


def main() -> None:
    if "--help" in sys.argv or "-h" in sys.argv:
        print(__doc__)
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    legs = []
    for frozen in (False, True, True, False):  # T-F-F-T interleave
        probe = host_probe(8)
        leg = one_leg(n, cpus, k, frozen)
        leg["probe_before"] = probe
        legs.append(leg)
        time.sleep(30)
    probe_end = host_probe(8)
    tuned = min((l for l in legs if l["arm"] == "tuned"), key=lambda r: r["cand_wall_sec"])
    frozen_ = min((l for l in legs if l["arm"] == "frozen"), key=lambda r: r["cand_wall_sec"])
    probes = [l["probe_before"] for l in legs] + [probe_end]
    print(json.dumps({
        "metric": "lsh_frozen_vs_tuned_ab",
        "n": n, "cpus": cpus, "k": k,
        "tuned": tuned, "frozen": frozen_,
        "wall_ratio_tuned_over_frozen": round(
            tuned["cand_wall_sec"] / max(frozen_["cand_wall_sec"], 1e-9), 3),
        "all_legs": legs,
        "host_gemms_per_sec": probes,
        "probe_spread": round(max(probes) / max(min(probes), 1e-9), 2),
    }))


if __name__ == "__main__":
    main()
