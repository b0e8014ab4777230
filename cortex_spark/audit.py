"""Append-only audit log of graph mutations (policies/audit.rs:1-286).

The reference writes one AuditEntry per mutation to a dedicated redb table
keyed by (timestamp_nanos << 32 | seq) for time-ordered scans
(audit.rs:73-97). The batch analogue is an append-only parquet/Iceberg
table: each pipeline stage derives its audit rows FROM its output DataFrame
(no per-row driver writes) and appends one partition per (run, stage).

Actions mirror AuditAction (audit.rs:26-38): node.created, node.updated,
node.deleted, node.hard_deleted, edge.created, edge.decayed, edge.pruned,
node.merged, briefing.generated, schema.upgraded.

Ordering: the reference's per-entry seq counter disambiguates same-nanosecond
writes; batch rows instead carry (ts, action, target_id) — a deterministic
total order since target ids are unique per action within a run.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cortex_spark.io import parquet_file_rows

AUDIT = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("action", T.StringType(), False),
        T.StructField("target_id", T.StringType(), False),
        T.StructField("actor", T.StringType(), False),
        T.StructField("details", T.StringType(), True),
    ]
)

ACTIONS = {
    "node.created", "node.updated", "node.deleted", "node.hard_deleted",
    "edge.created", "edge.decayed", "edge.pruned", "node.merged",
    "briefing.generated", "schema.upgraded",
}


def audit_entries(
    df: DataFrame,
    action: str,
    ts: datetime,
    actor: str = "pipeline",
    id_col: str = "node_id",
    details_col: F.Column | None = None,
) -> DataFrame:
    """Derive audit rows from a mutation's output frame (one row per target)."""
    if action not in ACTIONS:
        raise ValueError(f"unknown audit action: {action}")
    ts_lit = F.to_timestamp(F.lit(ts.strftime("%Y-%m-%d %H:%M:%S")))
    return df.select(
        ts_lit.alias("ts"),
        F.lit(action).alias("action"),
        F.col(id_col).cast("string").alias("target_id"),
        F.lit(actor).alias("actor"),
        (details_col if details_col is not None else F.lit(None).cast("string")).alias("details"),
    )


class AuditLog:
    """Append-only parquet audit table (the redb AUDIT_TABLE analogue)."""

    def __init__(self, path: str, spark) -> None:
        self.path = path
        self.spark = spark

    def append(self, entries: DataFrame) -> None:
        entries.write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        # no data file yet (never appended, or only a killed append's
        # _temporary dir) reads as an empty log; any other error raises
        if not parquet_file_rows(self.path):
            return self.spark.createDataFrame([], AUDIT)
        return self.spark.read.parquet(self.path)

    def query(
        self,
        action: str | None = None,
        actor: str | None = None,
        since: datetime | None = None,
        until: datetime | None = None,
    ) -> DataFrame:
        """Filtered, time-ordered scan (audit.rs:99-160 AuditFilter)."""
        df = self.read()
        if action is not None:
            df = df.filter(F.col("action") == action)
        if actor is not None:
            df = df.filter(F.col("actor") == actor)
        if since is not None:
            df = df.filter(F.col("ts") >= F.lit(since.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
        if until is not None:
            df = df.filter(F.col("ts") <= F.lit(until.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
        return df.orderBy("ts", "action", "target_id")


def canonicalization_audit(
    nodes_before: DataFrame,
    cmap: DataFrame,
    dedup_edges: DataFrame,
    ts: datetime,
    actor: str = "dedup_scanner",
) -> DataFrame:
    """Audit rows for a canonicalization pass: node.merged for every
    keep←retire pair (details = retired id), node.deleted for the tombstones,
    edge.created for the supersedes/related_to edges the pass emits
    (dedup.rs execute_action → audit wiring in redb_storage.rs:47)."""
    merged = audit_entries(
        cmap.select(F.col("canonical").alias("node_id"), F.col("node_id").alias("retired")),
        "node.merged", ts, actor, details_col=F.concat(F.lit("absorbed "), F.col("retired")),
    )
    tomb = audit_entries(cmap, "node.deleted", ts, actor, details_col=F.concat(F.lit("merged into "), F.col("canonical")))
    created = audit_entries(dedup_edges, "edge.created", ts, actor, id_col="edge_id", details_col=F.col("relation"))
    return merged.unionByName(tomb).unionByName(created)
