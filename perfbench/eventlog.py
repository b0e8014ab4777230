"""Fold Spark's own event log into per-layer records.

The traced run labels every Spark job with a job group
`perfbench|<unit>|<layer>` (see `spans.py`). This module reads the plain
JSON-lines event log Spark writes (`spark.eventLog.enabled`, uncompressed,
not rolled), maps every task to its stage's job group and sums, per unit
and layer:

  wall_s            union of the layer's job intervals (self time: a nested
                    layer's jobs count for the nested layer only)
  task_s            summed executor run time of the layer's tasks
  jobs              job count
  shuffle_read_mb   local + remote shuffle bytes read
  shuffle_write_mb  shuffle bytes written
  spill_mb          bytes spilled to disk

Jobs submitted without a group (none are expected) are attributed to the
unit whose time window holds their submission, under the unit's residual
layer.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

GROUP_PREFIX = "perfbench"
FIELDS = ("wall_s", "task_s", "jobs", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def group_id(unit: int, layer: str) -> str:
    return f"{GROUP_PREFIX}|{unit}|{layer}"


def _parse_group(props: dict | None) -> tuple[int, str] | None:
    gid = (props or {}).get("spark.jobGroup.id") or ""
    parts = gid.split("|")
    if len(parts) != 3 or parts[0] != GROUP_PREFIX:
        return None
    return int(parts[1]), parts[2]


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(
    log_dir: str,
    unit_windows: dict[int, tuple[float, float]],
    residual: str,
) -> dict[int, dict]:
    """Per unit: {"layers": {layer: {field: value}}, "jobs_wall_s": union of
    all the unit's job intervals}. `unit_windows` maps unit → (start, end)
    in epoch seconds."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, tuple[int, str]] = {}
    tasks: list[dict] = []

    def owner_by_time(ms: int) -> tuple[int, str] | None:
        for unit, (s, e) in unit_windows.items():
            if s * 1000 <= ms <= e * 1000:
                return unit, residual
        return None

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    owner = _parse_group(ev.get("Properties")) or owner_by_time(ev["Submission Time"])
                    jobs[ev["Job ID"]] = {"owner": owner, "start": ev["Submission Time"]}
                    for st in ev["Stage Infos"]:
                        stage_owner.setdefault(st["Stage ID"], owner)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    out: dict[int, dict] = {u: {"layers": {}, "intervals": []} for u in unit_windows}

    def rec(owner: tuple[int, str]) -> dict | None:
        unit, layer = owner
        if unit not in out:
            return None
        layers = out[unit]["layers"]
        if layer not in layers:
            layers[layer] = {f: 0.0 for f in FIELDS}
            layers[layer]["_iv"] = []
        return layers[layer]

    for job in jobs.values():
        if job["owner"] is None or "end" not in job:
            continue
        r = rec(job["owner"])
        if r is None:
            continue
        r["jobs"] += 1
        r["_iv"].append((job["start"], job["end"]))
        out[job["owner"][0]]["intervals"].append((job["start"], job["end"]))

    for ev in tasks:
        owner = stage_owner.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if owner is None or not m:
            continue
        r = rec(owner)
        if r is None:
            continue
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        r["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        r["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6

    result: dict[int, dict] = {}
    for unit, u in out.items():
        layers = {}
        for layer, r in u["layers"].items():
            iv = r.pop("_iv")
            r["wall_s"] = _union_s(iv)
            layers[layer] = r
        result[unit] = {"layers": layers, "jobs_wall_s": _union_s(u["intervals"])}
    return result


def aggregate(per_unit: list[dict[str, dict]]) -> dict[str, dict]:
    """Field-wise median over units of {layer: {field: value}} records; a
    layer absent from a unit counts as zeros there."""
    from statistics import median

    layers = sorted({layer for rec in per_unit for layer in rec})
    agg: dict[str, dict] = defaultdict(dict)
    for layer in layers:
        keys = sorted({k for rec in per_unit for k in rec.get(layer, {})})
        for k in keys:
            agg[layer][k] = median(rec.get(layer, {}).get(k, 0.0) for rec in per_unit)
    return dict(agg)
