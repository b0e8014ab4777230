"""Import / export (SURVEY §2.1 S8/S9).

- import_nodes_json: JSON export → node rows with Imported provenance-style
  metadata (reference migrations/ + EdgeProvenance::Imported,
  types.rs:268-269).
- export_graph: full node+edge dump for visualization
  (GET /graph/export, cortex-server/src/http/viz.rs).
- write_json_atomic: crash-safe JSON file writes (stage manifests, the
  incremental cursor, the LSH index meta).
- publish_parquet: its table-level counterpart — every table rewrite
  (stage checkpoints, CLI mutations, index compaction, streaming state);
  recover_parquet undoes a publish killed between its renames.
- parquet_file_rows: per-file row counts from parquet footers (stage
  manifest lineage).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def import_nodes_json(
    spark: SparkSession, path: str, source: str = "import", multiline: bool = False
) -> DataFrame:
    """Read a JSON export (one object per line, or a whole-file array with
    multiline=True) into the nodes schema; missing fields defaulted, ids
    content-hashed for idempotence. Raises on files Spark cannot parse at
    all (schema collapses to _corrupt_record) instead of importing
    default-valued garbage rows."""
    raw = spark.read.option("multiLine", multiline).json(path)
    cols = {f.name for f in raw.schema.fields}
    bad_hint = (
        f"{path} is not fully parseable as {'a JSON array' if multiline else 'JSON lines'}; "
        "for pretty-printed array files use format 'json' (multiLine), "
        "for one-object-per-line files use 'jsonl'"
    )
    if cols <= {"_corrupt_record"}:
        raise ValueError(bad_hint)
    if "_corrupt_record" in cols:
        # partial parse (e.g. an array file read line-wise where one line
        # happens to be a valid object): reject rather than silently
        # importing a subset / default-valued garbage. Spark disallows
        # querying the corrupt-record column straight off the file scan —
        # cache first (per the QUERY_ONLY_CORRUPT_RECORD_COLUMN guidance).
        raw = raw.cache()
        n_bad = raw.filter(F.col("_corrupt_record").isNotNull()).count()
        if n_bad:
            raise ValueError(f"{bad_hint} ({n_bad} unparseable records)")
        raw = raw.drop("_corrupt_record")
        cols.discard("_corrupt_record")

    def col_or(name: str, default):
        return F.col(name) if name in cols else default

    ts_default = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    out = raw.select(
        F.sha2(
            F.concat_ws(
                "\x00",
                F.coalesce(col_or("title", F.lit("")), F.lit("")),
                F.coalesce(col_or("body", F.lit("")), F.lit("")),
                F.lit(source),
            ),
            256,
        ).substr(1, 32).alias("node_id"),
        F.coalesce(col_or("kind", F.lit("fact")), F.lit("fact")).alias("kind"),
        F.coalesce(col_or("title", F.lit("")), F.lit("")).alias("title"),
        F.coalesce(col_or("body", F.lit("")), F.lit("")).alias("body"),
        F.create_map(F.lit("imported_from"), F.lit(source)).alias("metadata"),
        F.array().cast("array<string>").alias("tags"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.coalesce(col_or("agent", F.lit(source)), F.lit(source)).alias("source_agent"),
        F.lit(None).cast("string").alias("source_session"),
        F.lit("import").alias("source_channel"),
        F.coalesce(col_or("importance", F.lit(0.5)).cast("float"), F.lit(0.5).cast("float")).alias("importance"),
        F.lit(0).cast("bigint").alias("access_count"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("last_accessed_at"),
        ts_default.alias("created_at"),
        ts_default.alias("updated_at"),
        F.lit(False).alias("deleted"),
    )
    return out


def export_graph(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """Write the live graph as JSON (nodes/ + edges/ subdirs)."""
    nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False))).drop("embedding").write.mode("overwrite").json(f"{out_dir}/nodes")
    edges.write.mode("overwrite").json(f"{out_dir}/edges")


def write_json_atomic(path: str, obj, **dump_kw) -> None:
    """json.dump `obj` to `path` through a sibling temp file and os.replace:
    a reader, or a resume after a kill mid-write, sees the previous file or
    the new one, never a torn one."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def recover_parquet(path: str) -> None:
    """Put the previous table back at `path` when a publish died between
    its two renames (`<path>` gone, `<path>_old` still there)."""
    old = f"{path}_old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)


def publish_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Replace the parquet table at `path` with `df`, written once.

    `df` is written to `<path>_tmp`; then `<path>` is renamed to
    `<path>_old`, `<path>_tmp` to `<path>`, and `<path>_old` removed. A
    kill leaves either the previous table at `<path>`, or none there and
    the previous one at `<path>_old`, which the next publish restores
    first (`recover_parquet`) — so `df` may read the table it replaces. The
    live path is never half-written."""
    recover_parquet(path)
    tmp, old = f"{path}_tmp", f"{path}_old"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def parquet_file_rows(path: str) -> list[dict]:
    """Sorted {"file", "rows"} entries, one per data file of the parquet
    table at `path` that holds rows: `file` relative to `path`, `rows` read
    from the file's footer on the driver (no Spark job). Names starting
    with `_` or `.` are skipped, as Spark's file listing skips them."""
    import pyarrow.parquet as pq

    entries = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                full = os.path.join(root, name)
                rows = pq.read_metadata(full).num_rows
                if rows:
                    entries.append({"file": os.path.relpath(full, path), "rows": rows})
    return sorted(entries, key=lambda e: e["file"])
