"""Checkpoint / lineage / metrics bookkeeping for resumable stage runs.

The reference persists an auto-linker cursor + cycle count in a meta table
(auto_linker.rs:95-132, 277-280, 343-361) and resets it when config changed
(auto_linker.rs:137-182). Here each pipeline *stage* writes:

- its output as a parquet table under `<root>/<stage>/data` (published
  by `io.publish_parquet`: written once beside the live path, swapped in
  by rename; with an Iceberg catalog this becomes
  `writeTo(...).overwritePartitions()` and the manifest is the snapshot),
- a `_manifest.json` with the stage name, config hash, the data columns'
  schema, row count and per-file lineage (files + rows, from the parquet
  footers) + metrics.

`load_or_run` makes any stage resumable: if a manifest exists with a
matching config hash the stage is skipped and its table is read back —
the kill-and-rerun test (FIXTURES §5 checkpoint_kill) drives this.
A config-hash mismatch invalidates the checkpoint (full recompute), exactly
like the reference's cursor reset on config change; so does a manifest
without a schema.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cortex_spark.io import parquet_file_rows, publish_parquet, write_json_atomic


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
        resumed = bool(
            man
            and man.get("config_hash") == cfg_hash
            and "schema" in man  # older manifests recompute their stage
            and os.path.exists(data_dir)
        )
        if not resumed:
            df = build()
            # no manifest may outlive the table it describes: a kill from here
            # until the new manifest lands leaves the stage to recompute
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.manifest_path(stage))
            publish_parquet(df, data_dir, partition_by)
            lineage = parquet_file_rows(data_dir)
            rows = sum(e["rows"] for e in lineage)
            data_schema = StructType([f for f in df.schema if f.name not in (partition_by or ())])
            man = {
                "stage": stage,
                "config_hash": cfg_hash,
                "schema": data_schema.jsonValue(),
                "rows": rows,
                "lineage": lineage,
                "metrics": {"rows": rows, **(extra_metrics or {})},
            }
            write_json_atomic(self.manifest_path(stage), man, indent=1, sort_keys=True)

        # fresh or resumed, the table is read under the data columns' written
        # schema: nothing to infer from a footer, so no Spark job. Partition
        # column types are still inferred from the directory names.
        out = self.spark.read.schema(StructType.fromJson(man["schema"])).parquet(data_dir)
        return out, StageResult(stage, data_dir, man["rows"], resumed, man.get("metrics", {}))

    def refresh_manifest(self, stage: str) -> dict | None:
        """Re-stamp rows + per-file lineage after an out-of-band mutation
        (CLI node/edge create, import) so doctor's manifest check stays
        truthful. Keeps the stage's config_hash."""
        man = self.read_manifest(stage)
        if man is None:
            return None
        data_dir = os.path.join(self._dir(stage), "data")
        man["lineage"] = parquet_file_rows(data_dir)
        man["rows"] = man["metrics"]["rows"] = sum(e["rows"] for e in man["lineage"])
        write_json_atomic(self.manifest_path(stage), man, indent=1, sort_keys=True)
        return man
