"""Write gate (SURVEY §2.2 F6): 4 checks re-expressed as DataFrame ops.

Reference gate/mod.rs:90-408, defaults :29-40:
1. Substance — title ≥10 bytes, body ≥20 bytes (per-kind override),
   body ≠ title, body not a bare URL / single word / pure timestamp;
   decision nodes must contain an action word.
2. Specificity — body must not start with an unresolved pronoun
   (gate/mod.rs:452-472), no unanchored relative-time terms in title or the
   first 60 body bytes (:476-500); importance ≥0.9 needs ≥100-byte body,
   ≥0.8 needs ≥50, importance ≥0.7 requires tags.
3. Conflict — against the EXISTING node table: top-5 neighbor cosine >0.92
   → duplicate reject; >0.85 and same kind → contradiction/duplicate reject
   (gate/mod.rs:318-388). Implemented as a similarity join of incoming vs
   existing + verdict columns.
4. Schema — per-kind metadata constraints (required fields, type, min/max,
   allowed values; gate/schema.rs:89-179).

`apply_gate` returns (passed, rejected) where rejected carries
(gate_check, gate_reason) — the quarantine-sink pattern.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cortex_spark.functions.similarity import top_k_by_score

CONFLICT_THRESHOLD = 0.85
DUPLICATE_THRESHOLD = 0.92
MIN_TITLE = 10
MIN_BODY = 20
REQUIRE_TAGS_ABOVE = 0.7

_DECISION_WORDS = [
    "decided", "chose", "will", "should", "use", "adopt", "switch", "selected", "going to", "opted",
]
_PRONOUN_STARTS = ["he ", "she ", "they ", "it "]
_TITLE_STOPWORDS = [
    "The", "A", "An", "This", "That", "These", "Those", "He", "She", "They", "It", "In", "On",
    "At", "For", "With",
]
_RELATIVE_TERMS = [
    "yesterday", "last week", "last month", "last year", "this morning",
    "this afternoon", "this evening", "last night", "earlier today",
]


@dataclass
class FieldSchema:
    field_type: str | None = None  # string|number|boolean|array
    min: float | None = None
    max: float | None = None
    allowed_values: list[str] | None = None


@dataclass
class KindSchema:
    required_fields: list[str] = field(default_factory=list)
    fields: dict[str, FieldSchema] = field(default_factory=dict)


def _contains_any(col: Column, words: list[str]) -> Column:
    cond = None
    for w in words:
        c = col.contains(w)
        cond = c if cond is None else (cond | c)
    return cond


def substance_reason(kind: Column, title: Column, body: Column, min_body_by_kind: dict[str, int] | None = None) -> Column:
    """NULL when the node passes; else the rejection reason (first failing
    check wins — reference order, gate/mod.rs:95-213)."""
    min_body = F.lit(MIN_BODY)
    for k, v in (min_body_by_kind or {}).items():
        min_body = F.when(kind == k, F.lit(v)).otherwise(min_body)
    tbody = F.trim(body)
    is_url = (tbody.startswith("http://") | tbody.startswith("https://")) & ~tbody.contains(" ")
    single_word = F.size(F.filter(F.split(tbody, r"\s+"), lambda t: t != "")) <= 1
    all_digits = tbody.rlike(r"^\d{8,}$")
    isoish = tbody.rlike(r"^\d{4}-\d{2}-\d{2}[0-9T:. Z+\-]*$") & (F.length(tbody) >= 10)
    decision_missing = (kind == "decision") & ~_contains_any(F.lower(body), _DECISION_WORDS)
    return (
        F.when(F.octet_length(title) < MIN_TITLE, F.lit("title too short"))
        .when(F.octet_length(body) < min_body, F.lit("body too short"))
        .when(tbody == F.trim(title), F.lit("body identical to title"))
        .when(is_url, F.lit("body is a bare URL"))
        .when(single_word, F.lit("body is a single word"))
        .when(all_digits | isoish, F.lit("body is just a timestamp"))
        .when(decision_missing, F.lit("decision without action word"))
    )


def specificity_reason(title: Column, body: Column, importance: Column, tags: Column) -> Column:
    body_lower = F.lower(F.ltrim(body))
    pronoun_start = None
    for p in _PRONOUN_STARTS:
        c = body_lower.startswith(p)
        pronoun_start = c if pronoun_start is None else (pronoun_start | c)
    # title resolves the pronoun if any capitalised non-stopword word >2 chars
    words = F.filter(F.split(title, r"\s+"), lambda t: t != "")
    proper = F.exists(
        words,
        lambda w: w.rlike("^[A-Z]")
        & (F.length(w) > 2)
        & ~w.isin(_TITLE_STOPWORDS),
    )
    unresolved = pronoun_start & ~proper
    rel_title = _contains_any(F.lower(title), _RELATIVE_TERMS)
    rel_body = _contains_any(F.lower(F.substring(body, 1, 60)), _RELATIVE_TERMS)
    return (
        F.when(unresolved, F.lit("unresolved pronoun"))
        .when(rel_title | rel_body, F.lit("unanchored temporal reference"))
        .when((importance >= 0.9) & (F.octet_length(body) < 100), F.lit("high importance, thin body"))
        .when((importance >= 0.8) & (F.octet_length(body) < 50), F.lit("high importance, thin body"))
        .when((importance >= REQUIRE_TAGS_ABOVE) & (F.size(F.coalesce(tags, F.array())) == 0), F.lit("importance requires tags"))
    )


def schema_reason(kind: Column, metadata: Column, schemas: dict[str, KindSchema]) -> Column:
    """Per-kind metadata schema check over map<string,string> metadata.

    Reference metadata is JSON-valued (gate/schema.rs); the columnar build
    narrows to strings (as the gRPC surface does, cortex.proto:83) — numeric
    constraints parse the string value.
    """
    reason = F.lit(None).cast("string")
    for k, ks in schemas.items():
        cond_bad = F.lit(False)
        msg = F.lit(None).cast("string")
        for rf in ks.required_fields:
            missing = ~F.array_contains(F.map_keys(metadata), rf)
            msg = F.when(missing & msg.isNull(), F.lit(f"required field missing: {rf}")).otherwise(msg)
            cond_bad = cond_bad | missing
        for fname, fs in ks.fields.items():
            val = metadata.getItem(fname)
            num = val.try_cast("double")  # ANSI mode: malformed → NULL, not error
            if fs.field_type == "number":
                bad_type = val.isNotNull() & num.isNull()
                msg = F.when(bad_type & msg.isNull(), F.lit(f"{fname}: expected number")).otherwise(msg)
                cond_bad = cond_bad | bad_type
            if fs.min is not None:
                bad = val.isNotNull() & num.isNotNull() & (num < fs.min)
                msg = F.when(bad & msg.isNull(), F.lit(f"{fname}: below minimum {fs.min}")).otherwise(msg)
                cond_bad = cond_bad | bad
            if fs.max is not None:
                bad = val.isNotNull() & num.isNotNull() & (num > fs.max)
                msg = F.when(bad & msg.isNull(), F.lit(f"{fname}: exceeds maximum {fs.max}")).otherwise(msg)
                cond_bad = cond_bad | bad
            if fs.allowed_values is not None:
                bad = val.isNotNull() & ~val.isin(fs.allowed_values)
                msg = F.when(bad & msg.isNull(), F.lit(f"{fname}: value not allowed")).otherwise(msg)
                cond_bad = cond_bad | bad
        reason = F.when((kind == k) & cond_bad & reason.isNull(), msg).otherwise(reason)
    return reason


# brute force crossJoin(broadcast(incoming)) is fine while the incoming
# batch broadcasts; above this row count the gate switches to the LSH
# probe so the check stays sub-quadratic at ingest scale
LSH_ABOVE_INCOMING = 10_000


def conflict_verdicts(
    incoming: DataFrame,
    existing: DataFrame,
    conflict_threshold: float = CONFLICT_THRESHOLD,
    duplicate_threshold: float = DUPLICATE_THRESHOLD,
    ann_k: int = 5,
) -> DataFrame:
    """(node_id, gate_reason, existing_node) for incoming nodes rejected by
    the conflict check against the existing table (gate/mod.rs:318-388):
    top-5 neighbors; cosine > duplicate_threshold → reject; > conflict and
    same kind → reject (same agent ⇒ 'duplicate', else 'contradiction').

    Path selection: incoming batches above LSH_ABOVE_INCOMING rows go through
    the LSH-bucketed ANN (scale path — both sides bucketed, probed buckets ≪
    corpus); broadcastable batches keep exact brute force. LSH recall
    at the 0.85/0.92 thresholds is pytest-asserted ≥ 0.95 — pairs that hot
    are near-parallel vectors, which collide in some band with high
    probability."""
    from cortex_spark.dataops.ann import ann_topk_bruteforce, ann_topk_lsh

    inc = incoming.select(
        F.col("node_id").alias("in_id"), F.col("embedding"), F.col("kind").alias("in_kind"),
        F.col("source_agent").alias("in_agent"),
    )
    ex = existing.filter(~F.coalesce(F.col("deleted"), F.lit(False))).select(
        F.col("node_id").alias("ex_id"), F.col("embedding"), F.col("kind").alias("ex_kind"),
        F.col("source_agent").alias("ex_agent"),
    )
    if ex.isEmpty():
        return incoming.sparkSession.createDataFrame([], "node_id string, gate_reason string, existing_node string")
    use_lsh = inc.limit(LSH_ABOVE_INCOMING + 1).count() > LSH_ABOVE_INCOMING
    ann = ann_topk_lsh if use_lsh else ann_topk_bruteforce
    top = ann(
        ex.withColumnRenamed("ex_id", "vec_id"),
        inc.withColumnRenamed("in_id", "vec_id"),
        k=ann_k,
        corpus_id="vec_id",
        query_id="vec_id",
    ).select(F.col("query_id").alias("in_id"), F.col("neighbor_id").alias("ex_id"), "score")
    joined = (
        top.join(inc.select("in_id", "in_kind", "in_agent"), "in_id")
        .join(ex.select("ex_id", "ex_kind", "ex_agent"), "ex_id")
    )
    dup = F.col("score") > duplicate_threshold
    conflict = (F.col("score") > conflict_threshold) & (F.col("in_kind") == F.col("ex_kind"))
    verdict = (
        F.when(dup, F.lit("near-duplicate"))
        .when(conflict & (F.col("in_agent") == F.col("ex_agent")), F.lit("near-duplicate"))
        .when(conflict, F.lit("potential contradiction"))
    )
    out = joined.withColumn("gate_reason", verdict).filter(F.col("gate_reason").isNotNull())
    # first (highest-score) verdict per incoming node
    return top_k_by_score(out, "in_id", "ex_id", 1).select(
        F.col("in_id").alias("node_id"), "gate_reason", F.col("ex_id").alias("existing_node")
    )


def apply_gate(
    incoming: DataFrame,
    existing: DataFrame | None = None,
    schemas: dict[str, KindSchema] | None = None,
    min_body_by_kind: dict[str, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run all four checks; returns (passed, rejected-with-reasons)."""
    sub = substance_reason(F.col("kind"), F.col("title"), F.col("body"), min_body_by_kind)
    spec = specificity_reason(F.col("title"), F.col("body"), F.col("importance"), F.col("tags"))
    sch = schema_reason(F.col("kind"), F.col("metadata"), schemas or {})
    staged = incoming.withColumn(
        "gate_check",
        F.when(sub.isNotNull(), F.lit("substance"))
        .when(spec.isNotNull(), F.lit("specificity"))
        .when(sch.isNotNull(), F.lit("schema")),
    ).withColumn("gate_reason", F.coalesce(sub, spec, sch))
    if existing is not None:
        conf = conflict_verdicts(staged.filter(F.col("gate_check").isNull()), existing)
        staged = staged.join(conf.withColumnRenamed("gate_reason", "conf_reason"), "node_id", "left")
        staged = (
            staged.withColumn(
                "gate_check",
                F.when(F.col("gate_check").isNull() & F.col("conf_reason").isNotNull(), F.lit("conflict")).otherwise(F.col("gate_check")),
            )
            .withColumn("gate_reason", F.coalesce(F.col("gate_reason"), F.col("conf_reason")))
            .drop("conf_reason", "existing_node")
        )
    passed = staged.filter(F.col("gate_check").isNull()).drop("gate_check", "gate_reason")
    rejected = staged.filter(F.col("gate_check").isNotNull())
    return passed, rejected
