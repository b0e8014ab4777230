"""CI scaling-efficiency guardrail (round-2 verdict item #8).

Catches per-task-overhead regressions at commit time instead of bench
time: the SAME small KG job (4k synthetic pages, fused extract + LSH link)
runs at local[2] and local[8] in fresh subprocesses, and throughput must
scale with efficiency ≥ 0.7 between them. The 2→8 pair is the pair this
VM can actually serve (BASELINE.md: aggregate memory bandwidth DROPS
beyond ~8 cores, so 8→32 measures the host, not the engine — round-2
measured 0.811 at 2→8 on 64k pages).

The host GEMM probe is recorded with the result so a failure on a
degraded box is distinguishable from an engine regression; on a severely
degraded host (probe < 40% of healthy) the assertion is skipped rather
than reporting noise.
"""

from __future__ import annotations

import json
import os

import pytest

N_PAGES = 16000  # 4k is overhead-bound (eff ~0.5 even healthy); 16k measured 0.876
PAIR = (2, 8)
MIN_EFFICIENCY = 0.7
HEALTHY_GEMMS_8 = 1800.0  # bench.py host_probe reference for 8 procs


@pytest.mark.slow
def test_kg_job_scales_2_to_8():
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    from bench import host_probe
    from bench_scaling import one_run

    probe8 = host_probe(8)
    health = probe8 / HEALTHY_GEMMS_8

    # single A/B normally; one retry (best-of-two) only when the first
    # sample misses — this VM's run-to-run swing is 1.5-2× (BASELINE.md),
    # so a single bad slot must not page as an engine regression
    records = []
    for attempt in range(2):
        low = one_run(PAIR[0], N_PAGES)
        high = one_run(PAIR[1], N_PAGES)
        eff = (high["triples_per_sec"] / low["triples_per_sec"]) / (PAIR[1] / PAIR[0])
        records.append({
            "n_pages": N_PAGES, "pair": list(PAIR), "low": low, "high": high,
            "efficiency": round(eff, 3), "host_gemms_per_sec_8": probe8,
            "host_health": round(health, 2), "attempt": attempt,
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
        pytest.skip(f"host too degraded to measure scaling (probe {probe8}, "
                    f"{health:.0%} of healthy) — recorded: {records}")
    if best >= 0.55 and health < 0.85:
        pytest.skip(f"gray-zone efficiency {best} on a degraded host "
                    f"({health:.0%} of healthy probe) — recorded: {records}")
    assert best >= MIN_EFFICIENCY, f"scaling efficiency regressed: {records}"
