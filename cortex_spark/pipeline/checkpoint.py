"""Checkpoint / lineage / metrics bookkeeping for resumable stage runs.

The reference persists an auto-linker cursor + cycle count in a meta table
(auto_linker.rs:95-132, 277-280, 343-361) and resets it when config changed
(auto_linker.rs:137-182). Here each pipeline *stage* writes:

- its output as a parquet table under `<root>/<stage>/` (atomic via
  write-to-tmp + rename; with an Iceberg catalog this becomes
  `writeTo(...).overwritePartitions()` and the manifest is the snapshot),
- a `_manifest.json` with the stage name, config hash, input signature,
  row count and per-partition lineage (files + rows) + metrics.

`load_or_run` makes any stage resumable: if a manifest exists with a
matching config hash the stage is skipped and its table is read back —
the kill-and-rerun test (FIXTURES §5 checkpoint_kill) drives this.
A config-hash mismatch invalidates the checkpoint (full recompute), exactly
like the reference's cursor reset on config change.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cortex_spark.io import write_json_atomic


def config_hash(obj) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    resumed: bool
    metrics: dict


def _lineage_entries(out: DataFrame, data_dir: str) -> list[dict]:
    """Per-file lineage: parquet file → row count (shared by load_or_run
    and refresh_manifest so the two can never drift)."""

    def _local_path(uri: str) -> str:
        # input_file_name() yields file:/... or file:///... URIs
        if uri.startswith("file:"):
            uri = uri[len("file:") :]
            while uri.startswith("//"):
                uri = uri[1:]
        return uri

    return sorted(
        (
            {"file": os.path.relpath(_local_path(r["file"]), data_dir), "rows": r["rows"]}
            for r in out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ),
        key=lambda e: e["file"],
    )


class CheckpointStore:
    def __init__(self, root: str, spark: SparkSession) -> None:
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    def read_manifest(self, stage: str) -> dict | None:
        p = self.manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def load_or_run(
        self,
        stage: str,
        cfg_hash: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        extra_metrics: dict | None = None,
    ) -> tuple[DataFrame, StageResult]:
        """Return the stage table, recomputing only when no valid checkpoint."""
        man = self.read_manifest(stage)
        data_dir = os.path.join(self._dir(stage), "data")
        if man and man.get("config_hash") == cfg_hash and os.path.exists(data_dir):
            df = self.spark.read.parquet(data_dir)
            return df, StageResult(stage, data_dir, man["rows"], True, man.get("metrics", {}))

        df = build()
        tmp = os.path.join(self._dir(stage), "_tmp")
        shutil.rmtree(self._dir(stage), ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        os.rename(tmp, data_dir)

        out = self.spark.read.parquet(data_dir)
        lineage = _lineage_entries(out, data_dir)
        rows = sum(e["rows"] for e in lineage)
        metrics = {"rows": rows, **(extra_metrics or {})}
        man = {
            "stage": stage,
            "config_hash": cfg_hash,
            "rows": rows,
            "lineage": lineage,
            "metrics": metrics,
        }
        write_json_atomic(self.manifest_path(stage), man, indent=1, sort_keys=True)
        return out, StageResult(stage, data_dir, rows, False, metrics)

    def refresh_manifest(self, stage: str) -> dict | None:
        """Re-stamp rows + per-file lineage after an out-of-band mutation
        (CLI node/edge create, import) so doctor's manifest check stays
        truthful. Keeps the stage's config_hash."""
        man = self.read_manifest(stage)
        if man is None:
            return None
        data_dir = os.path.join(self._dir(stage), "data")
        man["lineage"] = _lineage_entries(self.spark.read.parquet(data_dir), data_dir)
        man["rows"] = man["metrics"]["rows"] = sum(e["rows"] for e in man["lineage"])
        write_json_atomic(self.manifest_path(stage), man, indent=1, sort_keys=True)
        return man
