"""Briefing report (SURVEY §3.4): ordered ranked sections with seen-set
exclusion (reference briefing/engine.rs:139-289). Spark ranks every
section down to its head of at most 10 rows; the heads are collected once
and the seen-set walk runs on the driver over those few rows.

Ranking per section (A5, engine.rs:77-91,329-338): importance ≥ 0.3,
sort (importance desc, access_count desc), top 10 per section, global 50.
Sections (in exclusion order): identity (agent's own nodes), goals,
patterns (2-hop applies_to/instance_of neighborhood), unresolved
contradictions (contradicts-edge endpoints), recent events (48 h window),
active context (the agent's newest nodes), then auto-discovered sections —
one per non-default kind, ordered by Σ importance (A6, engine.rs:725-768).
"""

from __future__ import annotations

import functools
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cortex_spark.graph.traverse import bfs
from cortex_spark.schemas import DEFAULT_KINDS

MIN_IMPORTANCE = 0.3
PER_SECTION = 10
GLOBAL_CAP = 50
RECENT_HOURS = 48


# (column, descending) sort keys: the section rank, and active_context's
# recency order
RANK_ORDER = (("importance", True), ("access_count", True), ("node_id", False))
RECENT_ORDER = (("created_at", True), ("node_id", False))


def _rank(df: DataFrame, order) -> DataFrame:
    return (
        df.filter(F.col("importance") >= MIN_IMPORTANCE)
        .orderBy(*[F.desc(c) if desc else F.asc(c) for c, desc in order])
        .limit(PER_SECTION)
    )


def _spark_key(v):
    # Spark orders NaN above every other float
    return (v != v, v if v == v else 0.0)


def _sorted(rows: list, order) -> list:
    """Collected rows in Spark's orderBy(order): nulls last under DESC and
    first under ASC."""
    for col, desc in reversed(order):  # stable sorts, least significant key first
        present = sorted(
            (r for r in rows if r[col] is not None), key=lambda r: _spark_key(r[col]), reverse=desc
        )
        absent = [r for r in rows if r[col] is None]
        rows = present + absent if desc else absent + present
    return rows


def generate_briefing(
    nodes: DataFrame,
    edges: DataFrame,
    agent: str,
    now: datetime,
) -> DataFrame:
    """Returns (section, section_idx, section_rank, node_id, kind, title,
    body, importance), ordered by (section, section_rank); the node columns
    keep the input's types."""
    spark = nodes.sparkSession
    live = nodes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
    # access_count and created_at ride along as sort keys; created_at as
    # epoch micros, so the driver-side sort is exact in any local time zone
    base_cols = [
        "node_id", "kind", "title", "body", "importance", "access_count",
        F.unix_micros("created_at").alias("created_at"),
    ]

    # (name, order, ranked head); a section's walk cut uses its own order
    heads: list[tuple[str, tuple, DataFrame]] = []

    def head(name: str, df: DataFrame, order=RANK_ORDER) -> None:
        heads.append((name, order, _rank(df.select(*base_cols), order)))

    agent_nodes = live.filter(F.col("source_agent") == agent)
    head("identity", agent_nodes.filter(F.col("kind").isin("agent", "preference")))
    head("goals", agent_nodes.filter(F.col("kind") == "goal"))

    # patterns: pattern nodes + their 2-hop applies_to/instance_of neighborhood
    pattern_ids = agent_nodes.filter(F.col("kind") == "pattern").select("node_id")
    if not pattern_ids.isEmpty():
        hood = bfs(edges, pattern_ids, max_depth=2, relation=["applies_to", "instance_of"])
        head("patterns", live.join(hood.select("node_id"), "node_id"))
    else:
        head("patterns", agent_nodes.filter(F.col("kind") == "pattern"))

    contra_ids = (
        edges.filter(F.col("relation") == "contradicts")
        .select(F.explode(F.array("src", "dst")).alias("node_id"))
        .distinct()
    )
    head("contradictions", live.join(contra_ids, "node_id"))

    cutoff = F.lit((now - timedelta(hours=RECENT_HOURS)).strftime("%Y-%m-%d %H:%M:%S"))
    head("recent_events", agent_nodes.filter((F.col("kind") == "event") & (F.col("created_at") >= F.to_timestamp(cutoff))))

    # active context (engine.rs:446-549): most recent activity for the agent,
    # any kind — anchored on the newest nodes rather than a 48 h wall
    head("active_context", agent_nodes, RECENT_ORDER)

    # auto-discovered: novel kinds ordered by Σ importance (A6)
    novel = (
        live.filter(~F.col("kind").isin(DEFAULT_KINDS))
        .groupBy("kind")
        .agg(F.sum("importance").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("kind"))
        .collect()
    )
    for row in novel:
        head(f"more_{row['kind']}", live.filter(F.col("kind") == row["kind"]))

    # every section head is ≤ PER_SECTION rows: one collect, then the ordered
    # seen-set exclusion (U2, engine.rs:154-250) + global cap on the driver
    labeled = [df.withColumn("section_idx", F.lit(i)) for i, (_, _, df) in enumerate(heads)]
    rows = functools.reduce(DataFrame.unionByName, labeled).collect()

    out: list[tuple] = []
    seen: set = set()
    remaining = GLOBAL_CAP
    for idx, (name, order, _) in enumerate(heads):
        if remaining <= 0:
            break
        fresh = [r for r in rows if r["section_idx"] == idx and r["node_id"] not in seen]
        # the global-cap cut is taken in the section's own order
        picked = _sorted(fresh, order)[:remaining]
        remaining -= len(picked)
        seen.update(r["node_id"] for r in picked)
        out += [
            (name, idx, rank, r["node_id"], r["kind"], r["title"], r["body"], r["importance"])
            for rank, r in enumerate(_sorted(picked, RANK_ORDER), 1)
        ]
    out.sort(key=lambda t: (t[0], t[2]))

    node_fields = {f.name: f for f in nodes.schema.fields}
    schema = StructType(
        [
            StructField("section", StringType(), False),
            StructField("section_idx", IntegerType(), False),
            StructField("section_rank", IntegerType(), False),
            *(node_fields[c] for c in ("node_id", "kind", "title", "body", "importance")),
        ]
    )
    return spark.createDataFrame(out, schema)


class BriefingCache:
    """briefing/cache.rs:1-49 re-expressed for batch: cached report rows
    keyed by agent, valid only while the graph version matches and the TTL
    holds. Version plays the role of the reference's `graph_version`
    counter (any config-hash / snapshot id works); entries store collected
    report rows, driver-report-sized by contract (≤ sections × PER_SECTION)."""

    def __init__(self, ttl_secs: float = 300.0, clock=None) -> None:
        import time

        self._ttl = ttl_secs
        self._clock = clock or time.monotonic
        self._entries: dict[str, tuple[list, float, int]] = {}
        self.hits = 0
        self.misses = 0

    def get(self, agent: str, current_version: int):
        e = self._entries.get(agent)
        if e is not None:
            rows, at, version = e
            if version == current_version and self._clock() - at < self._ttl:
                self.hits += 1
                return rows
        self.misses += 1
        return None

    def put(self, agent: str, rows: list, version: int) -> None:
        self._entries[agent] = (rows, self._clock(), version)

    def invalidate(self, agent: str) -> None:
        self._entries.pop(agent, None)

    def get_or_generate(self, nodes: DataFrame, edges: DataFrame, agent: str, version: int, now) -> list:
        cached = self.get(agent, version)
        if cached is not None:
            return cached
        rows = generate_briefing(nodes, edges, agent, now).collect()
        self.put(agent, rows, version)
        return rows


def _section_title(section: str) -> str:
    from cortex_spark.functions.text import pluralize_section

    if section.startswith("more_"):
        # auto-discovered sections are named by pluralised kind (A6)
        return pluralize_section(section[5:])
    return section.replace("_", " ").title()


def _collect_sections(report) -> list[tuple[str, list]]:
    rows = report.orderBy("section_idx", "section_rank").collect()
    sections: list[tuple[str, list]] = []
    for r in rows:
        if not sections or sections[-1][0] != r["section"]:
            sections.append((r["section"], []))
        sections[-1][1].append(r)
    return sections


def render_briefing_markdown(report, agent: str = "", max_chars: int = 8000) -> str:
    """Markdown render of a generate_briefing() frame, format-faithful to
    MarkdownRenderer (briefing/renderer.rs:70-101): header with agent +
    generated stamp, '## Section' blocks, '- **title**: body-preview(200)'
    bullets, whole output char-truncated with ' [truncated]'."""
    from cortex_spark.functions.text import body_preview, truncate_annotated

    out: list[str] = [f"# Briefing: {agent}\n_Generated: run_\n\n"]
    for section, rows in _collect_sections(report):
        out.append(f"## {_section_title(section)}\n\n")
        for r in rows:
            preview = body_preview(r["body"] or "", 200) if "body" in report.columns else ""
            out.append(f"- **{r['title']}**: {preview}\n")
        out.append("\n")
    return truncate_annotated("".join(out), max_chars)


def render_briefing_compact(report, agent: str = "", max_chars: int = 8000) -> str:
    """Compact render (CompactRenderer, renderer.rs:79-86,103-110): titles
    only — '# agent' header, '## Section' + '- title' lines, same global
    char truncation."""
    from cortex_spark.functions.text import truncate_annotated

    out: list[str] = [f"# {agent}\n"]
    for section, rows in _collect_sections(report):
        out.append(f"## {_section_title(section)}\n")
        for r in rows:
            out.append(f"- {r['title']}\n")
    return truncate_annotated("".join(out), max_chars)
