"""Edge-emission rules (the triple emitters), J2–J10 of SURVEY §2.4.

Evaluates every rule over the *ordered* candidate-pair DataFrame
(a = the scanning node, b = the ANN neighbor) in a SINGLE pass: each rule
becomes one slot of an array<struct> built with `when(cond, struct(...))`,
then `explode` + drop-null — so eight rules cost one scan of the pair frame,
not eight.

Exact semantics and constants from the reference:
- SimilarityLinkRule: score ≥ auto_link_threshold(0.75) → related_to,
  w=score (linker/rules.rs:42-62; threshold vector/config.rs:24-33)
- SameAgent: equal source agent → related_to w=0.3 (rules.rs:132-146)
- TemporalProximity: |Δcreated_at| ≤ 30 min → related_to w=0.4
  (rules.rs:148-168)
- SharedTags: ≥2 shared → related_to w=min(0.5·(1+0.1·(shared−2)), 1.0)
  (rules.rs:170-196)
- DecisionToEvent: decision×event, same non-null session, decision older →
  led_to w=0.6 (rules.rs:198-217)
- ObservationToPattern: observation×pattern, score ≥ 0.7 → instance_of
  w=0.7 (rules.rs:219-239)
- FactSupersedes: fact×fact, a newer, title word-Jaccard ≥ 0.9 →
  supersedes w=0.9 (rules.rs:241-266, Jaccard 271-289)
- Contradiction: score ≥ 0.80 and exactly one side has a negation word →
  contradicts, w=score (rules.rs:313-380; wiring auto_linker.rs:429-440)

Rule priority = emission order in auto_linker.rs:401-443; the first edge
per (src, dst, relation) wins (storage duplicate-edge semantics,
redb_storage.rs:812-827) — enforced downstream in linker.pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cortex_spark.functions.similarity import jaccard_words_col
from cortex_spark.functions.text import has_negation_col


def _neg_col(side: str, precomputed: bool = True) -> Column:
    """Per-side negation flag: the pair frame carries `a_neg`/`b_neg`
    (evaluated once per node in _attach_attrs); hand-built pair frames in
    tests fall back to evaluating the regex over title+body per pair."""
    if precomputed:
        return F.col(f"{side}_neg")
    return has_negation_col(F.col(f"{side}_title"), F.col(f"{side}_body"))


@dataclass
class ConfigRule:
    """User-defined rule (reference linker/config.rs:261-288,382-424).

    condition ∈ {always, min_similarity, shared_tags, same_agent,
    temporal_proximity, newer_than, body_field_contains,
    tag_references_title, negation_detected, body_field_ref}.
    """

    name: str
    relation: str
    from_kind: str | None = None
    to_kind: str | None = None
    condition: str = "always"
    threshold: float = 0.0  # min_similarity
    min_shared: int = 2  # shared_tags
    window_minutes: int = 30  # temporal_proximity
    field: str | None = None  # body_field_ref / body_field_contains
    match_field: str = "title"  # body_field_ref: "title" | "id" | json field
    prefix: str | None = None  # tag_references_title
    weight: float = 0.8
    weight_is_score: bool = False
    bidirectional: bool = False

    def predicate(self, score: Column, neg_precomputed: bool) -> Column:
        a, b = F.col, F.col
        cond = F.lit(True)
        if self.from_kind:
            cond = cond & (F.col("a_kind") == self.from_kind)
        if self.to_kind:
            cond = cond & (F.col("b_kind") == self.to_kind)
        c = self.condition
        if c == "always":
            pass
        elif c == "min_similarity":
            cond = cond & (score >= self.threshold)
        elif c == "shared_tags":
            cond = cond & (
                F.size(F.array_intersect(F.col("a_tags"), F.col("b_tags"))) >= self.min_shared
            )
        elif c == "same_agent":
            cond = cond & (F.col("a_source_agent") == F.col("b_source_agent"))
        elif c == "temporal_proximity":
            cond = cond & (
                F.abs(F.col("a_created_at").cast("long") - F.col("b_created_at").cast("long"))
                <= self.window_minutes * 60
            )
        elif c == "newer_than":
            cond = cond & (F.col("a_created_at") > F.col("b_created_at"))
        elif c == "body_field_contains":
            cond = cond & F.coalesce(
                F.get_json_object(F.col("a_body"), f"$.{self.field}").contains(F.col("b_title")),
                F.lit(False),
            )
        elif c == "body_field_ref":
            ref = F.get_json_object(F.col("a_body"), f"$.{self.field}")
            if self.match_field == "title":
                target = F.col("b_title")
            elif self.match_field == "id":
                target = F.col("b_id")
            else:
                target = F.get_json_object(F.col("b_body"), f"$.{self.match_field}")
            cond = cond & (ref.isNotNull() & (ref == target))
        elif c == "tag_references_title":
            pfx = self.prefix or ""
            cond = cond & F.exists(
                F.col("a_tags"), lambda t: t == F.concat(F.lit(pfx), F.lower(F.col("b_title")))
            )
        elif c == "negation_detected":
            cond = cond & (_neg_col("a", neg_precomputed) != _neg_col("b", neg_precomputed))
        else:
            raise ValueError(f"unknown config-rule condition: {c}")
        return cond


@dataclass
class LinkerConfig:
    """Defaults mirror vector/config.rs:24-33 and linker/config.rs:56-74."""

    auto_link_threshold: float = 0.75
    contradiction_threshold: float = 0.80
    dedup_threshold: float = 0.92
    temporal_window_secs: int = 1800
    min_shared_tags: int = 2
    obs_pattern_min_similarity: float = 0.7
    fact_title_jaccard: float = 0.9
    ann_k: int = 100  # per-node neighbor fan-in (HNSW search k, auto_linker.rs:220-221)
    max_edges_per_node: int = 50
    legacy_structural_enabled: bool = True
    config_rules: list[ConfigRule] = field(default_factory=list)
    # threshold sanity invariant (vector/config.rs:66-86)

    def __post_init__(self) -> None:
        if not (self.auto_link_threshold <= self.contradiction_threshold <= self.dedup_threshold):
            raise ValueError(
                "threshold invariant violated: auto_link <= contradiction <= dedup "
                f"({self.auto_link_threshold}, {self.contradiction_threshold}, {self.dedup_threshold})"
            )


_EDGE_STRUCT_FIELDS = ("relation", "weight", "ptype", "detail", "pscore", "priority")


def _edge_slot(cond: Column, relation: str | Column, weight: Column, ptype: str, detail: Column, pscore: Column, priority: int) -> Column:
    rel = F.lit(relation) if isinstance(relation, str) else relation
    return F.when(
        cond,
        F.struct(
            rel.alias("relation"),
            weight.cast("float").alias("weight"),
            F.lit(ptype).alias("ptype"),
            detail.alias("detail"),
            pscore.cast("float").alias("pscore"),
            F.lit(priority).alias("priority"),
        ),
    )


def apply_link_rules(pairs: DataFrame, config: LinkerConfig | None = None) -> DataFrame:
    """Ordered pairs (a_*, b_*, score) → proposed directed edges.

    Input columns required: a_id b_id score, and per side: kind title body
    tags source_agent source_session created_at.
    Output: src, dst, relation, weight, ptype, detail, pscore, priority, score.
    """
    cfg = config or LinkerConfig()
    score = F.col("score")
    shared = F.size(F.array_intersect(F.coalesce(F.col("a_tags"), F.array()), F.coalesce(F.col("b_tags"), F.array())))
    neg_pre = "a_neg" in pairs.columns
    a_neg = _neg_col("a", neg_pre)
    b_neg = _neg_col("b", neg_pre)

    slots: list[Column] = [
        _edge_slot(
            score >= cfg.auto_link_threshold,
            "related_to", score, "auto_similarity", F.lit(None).cast("string"), score, 0,
        )
    ]
    if cfg.legacy_structural_enabled and not cfg.config_rules:
        # legacy rules run only when no config rules (linker/config.rs:121-125)
        slots += [
            _edge_slot(
                F.col("a_source_agent") == F.col("b_source_agent"),
                "related_to", F.lit(0.3), "auto_structural", F.lit("same_agent"), F.lit(None).cast("float"), 1,
            ),
            _edge_slot(
                F.abs(F.col("a_created_at").cast("long") - F.col("b_created_at").cast("long"))
                <= cfg.temporal_window_secs,
                "related_to", F.lit(0.4), "auto_structural", F.lit("temporal_proximity"), F.lit(None).cast("float"), 2,
            ),
            _edge_slot(
                shared >= cfg.min_shared_tags,
                "related_to",
                F.least(F.lit(0.5) * (F.lit(1.0) + (shared - cfg.min_shared_tags).cast("double") * 0.1), F.lit(1.0)),
                "auto_structural", F.lit("shared_tags"), F.lit(None).cast("float"), 3,
            ),
            _edge_slot(
                (F.col("a_kind") == "decision")
                & (F.col("b_kind") == "event")
                & F.col("a_source_session").isNotNull()
                & (F.col("a_source_session") == F.col("b_source_session"))
                & (F.col("a_created_at") < F.col("b_created_at")),
                "led_to", F.lit(0.6), "auto_structural", F.lit("decision_to_event"), F.lit(None).cast("float"), 4,
            ),
            _edge_slot(
                (F.col("a_kind") == "observation")
                & (F.col("b_kind") == "pattern")
                & (score >= cfg.obs_pattern_min_similarity),
                "instance_of", F.lit(0.7), "auto_structural", F.lit("observation_to_pattern"), F.lit(None).cast("float"), 5,
            ),
            _edge_slot(
                (F.col("a_kind") == "fact")
                & (F.col("b_kind") == "fact")
                & (F.col("a_created_at") > F.col("b_created_at"))
                & (jaccard_words_col(F.col("a_title"), F.col("b_title")) >= cfg.fact_title_jaccard),
                "supersedes", F.lit(0.9), "auto_structural", F.lit("fact_supersedes"), F.lit(None).cast("float"), 6,
            ),
        ]
    for i, rule in enumerate(cfg.config_rules):
        w = score if rule.weight_is_score else F.lit(rule.weight)
        slots.append(
            _edge_slot(rule.predicate(score, neg_pre), rule.relation, w, "auto_structural", F.lit(rule.name), F.lit(None).cast("float"), 10 + i)
        )
    slots.append(
        _edge_slot(
            (score >= cfg.contradiction_threshold) & (a_neg != b_neg),
            "contradicts", score, "auto_contradiction", F.lit("Negation pattern detected"), F.lit(None).cast("float"), 100,
        )
    )

    # explode the full slot array and drop null slots AFTER the explode: the
    # higher-order F.filter is CodegenFallback, which forces the whole slot
    # construction (8 when-structs per pair) through interpreted eval —
    # measured 3× slower warm and ~13× slower on the first (cold) run at
    # bench scale (see OPTIMIZATION_r06.md). explode(CreateArray(...)) stays
    # inside WholeStageCodegen; a null slot becomes a row filtered right out.
    proposed = (
        pairs.select(
            F.col("a_id").alias("src"),
            F.col("b_id").alias("dst"),
            F.col("score"),
            F.explode(F.array(*slots)).alias("e"),
        )
        .filter(F.col("e").isNotNull())
        .select(
            "src",
            "dst",
            F.col("e.relation").alias("relation"),
            F.col("e.weight").alias("weight"),
            F.col("e.ptype").alias("ptype"),
            F.col("e.detail").alias("detail"),
            F.col("e.pscore").alias("pscore"),
            F.col("e.priority").alias("priority"),
            "score",
        )
    )
    # bidirectional config rules also emit the reversed edge (config.rs rule opt)
    bidi = [r for i, r in enumerate(cfg.config_rules) if r.bidirectional]
    if bidi:
        names = [r.name for r in bidi]
        rev = proposed.filter(F.col("detail").isin(names)).select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            "relation", "weight", "ptype", "detail", "pscore", "priority", "score",
        )
        proposed = proposed.unionByName(rev)
    return proposed
