"""CI scaling-efficiency guardrail (round-2 verdict item #8).

Catches per-task-overhead regressions at commit time instead of bench
time: the SAME small KG job (16k synthetic pages, fused extract + LSH link)
runs at local[low] and local[high] in fresh subprocesses, and throughput
must scale with efficiency ≥ 0.7 between them. The pair comes from the
CPUs this process may use: high = min(8, n), low = max(1, high // 4) —
never more Spark cores than CPUs, and never past 8 (BASELINE.md: on the
32-core VM aggregate memory bandwidth DROPS beyond ~8 cores, so 8→32
measures the host, not the engine — round-2 measured 0.811 at 2→8 on 64k
pages).

The host GEMM probe is recorded with the result so a failure on a
degraded box is distinguishable from an engine regression: health is the
`high`-process probe over `high` × the same host's one-process probe. On
a severely degraded host (health < 40%) the assertion is skipped rather
than reporting noise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

N_PAGES = 16000  # 4k is overhead-bound (eff ~0.5 even healthy); 16k measured 0.876
MIN_EFFICIENCY = 0.7
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_probe(procs: int) -> float:
    """bench.host_probe in a fresh interpreter with one BLAS thread per
    process, as get_spark runs its Python workers: a multi-threaded BLAS
    would inflate the one-process reference."""
    env = {**os.environ, "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1"}
    out = subprocess.run(
        [sys.executable, "-c", f"import bench; print(bench.host_probe({procs}))"],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True, timeout=120,
    )
    return float(out.stdout.split()[-1])


@pytest.mark.slow
def test_kg_job_scales_with_cores():
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from bench_scaling import one_run

    high_cpus = min(8, len(os.sched_getaffinity(0)))
    low_cpus = max(1, high_cpus // 4)
    probe_high = host_probe(high_cpus)
    probe_1 = host_probe(1)
    health = probe_high / (high_cpus * probe_1)

    # single A/B normally; one retry (best-of-two) only when the first
    # sample misses — this VM's run-to-run swing is 1.5-2× (BASELINE.md),
    # so a single bad slot must not page as an engine regression
    records = []
    for attempt in range(2):
        low = one_run(low_cpus, N_PAGES)
        high = one_run(high_cpus, N_PAGES)
        eff = (high["triples_per_sec"] / low["triples_per_sec"]) / (high_cpus / low_cpus)
        records.append({
            "n_pages": N_PAGES, "pair": [low_cpus, high_cpus], "low": low, "high": high,
            "efficiency": round(eff, 3), "host_gemms_per_sec_high": probe_high,
            "host_gemms_per_sec_1": probe_1, "host_health": round(health, 2), "attempt": attempt,
        })
        print(json.dumps(records[-1]))
        if eff >= MIN_EFFICIENCY:
            break

    best = max(r["efficiency"] for r in records)
    # Decision bands: a genuine per-task-overhead regression is persistent
    # and deep (round-1's red number was 0.43); host noise on this VM swings
    # single samples between ~0.6 and ~0.88 at identical code. So:
    #   best >= 0.7            -> green
    #   0.55 <= best < 0.7 and host degraded -> skip, record for the bench log
    #   best < 0.55 (or gray zone on a HEALTHY host) -> fail: engine regression
    if best >= MIN_EFFICIENCY:
        return
    if health < 0.4:
        pytest.skip(f"host too degraded to measure scaling (probe {probe_high}, "
                    f"{health:.0%} of healthy) — recorded: {records}")
    if best >= 0.55 and health < 0.85:
        pytest.skip(f"gray-zone efficiency {best} on a degraded host "
                    f"({health:.0%} of healthy probe) — recorded: {records}")
    assert best >= MIN_EFFICIENCY, f"scaling efficiency regressed: {records}"
