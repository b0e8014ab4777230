"""Deduplication operators for training-data pipelines (first-class ops).

Four families, each sized for 10^12-document corpora:

- exact_dedup: hash-groupBy on normalized text (one shuffle on a 32-byte
  key; keeps the min doc id as canonical).
- MinHash + banded LSH: shingle → k min-hashes → bands → bucket join.
  Hash = md5 hex strings (identical in Spark and DuckDB ⇒ SQL-oracle-able);
  min over strings = min-hash. Native exprs, no Python.
- SimHash: 64-bit bit-majority fingerprint; near-dups = pairs within
  Hamming distance d via band-exact match on 4×16-bit chunks (any chunk
  equal ⇒ candidate, exact Hamming rescored). One kernel, pure native md5
  expressions (whole-stage codegen, SQL-oracle-able).
- n-gram Jaccard: exact Jaccard over token 3-gram sets, evaluated on
  LSH-candidate pairs only (never all-pairs).

Embedding-cosine near-duplicates are the KG dedup scan,
canon.dedup.dedup_pairs, over per-node top-k candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalized_text_col(text) -> F.Column:
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: canonical (min) id + dup count."""
    h = F.md5(normalized_text_col(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles_col(text, n: int = 3) -> F.Column:
    """Token n-gram shingles of normalized text (distinct, sorted)."""
    toks = F.filter(F.split(normalized_text_col(text), " "), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_sort(F.array_distinct(grams))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 12, shingle_n: int = 3) -> DataFrame:
    """(id, sig array<string> of k min-hashes). min(md5(i||'|'||shingle))
    per i — string min-hash, reproducible in any engine with md5.

    NOTE: the per-hash transforms are SQL-parsed lambdas (F.expr), not
    Python-API lambdas — PySpark 4.1 mis-binds lambda variables when several
    Python-created `F.transform` lambdas share one expression tree (verified:
    k>=2 in one select returns wrong hashes; expr-parsed lambdas are scoped
    correctly)."""
    base = df.select(
        F.col(id_col).alias("doc_id"), shingles_col(F.col(text_col), shingle_n).alias("__sh")
    )
    sigs = F.array(
        *[F.expr(f"array_min(transform(__sh, s -> md5(concat('{i}|', s))))") for i in range(k)]
    )
    return base.select("doc_id", sigs.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id, band) via banded MinHash LSH."""
    rows = k // bands
    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("|", F.lit(str(b)), *[F.col("sig")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    banded = banded.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= max_bucket).drop("rn")
    a = banded.select(F.col("doc_id").alias("a_id"), "bucket")
    b = banded.select(F.col("doc_id").alias("b_id"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _cap_buckets(chunks: DataFrame, max_bucket: int) -> DataFrame:
    """Hot-bucket guard for the simhash chunk index, mirroring the minhash
    path: 16-bit chunk values mean bucket population grows linearly with
    corpus size (and degenerate corpora — e.g. many empty docs hashing to
    chunk 0 — go quadratic outright without it). Deterministic truncation
    in doc_id order."""
    w = Window.partitionBy("chunk_idx", "chunk").orderBy("doc_id")
    return chunks.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= max_bucket).drop("rn")


def simhash_chunks_native(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """64-bit SimHash as 4×16-bit chunk columns (c0..c3), pure native
    expressions — no Python in the path, one shuffle (the groupBy).

    Token hash = first 16 hex chars of md5("<seed>|" + token), split into
    two 32-bit halves so every value fits a signed long; bit b of the
    64-bit hash comes from h_lo (b<32) or h_hi (b≥32). Bit-majority over
    token occurrences (+1/-1, ties → 0) per the classic Charikar scheme.
    md5 is identical in every engine, so the whole kernel has an exact
    DuckDB oracle (cf. reference fingerprinting in cortex-core; engine
    choice here is Spark-first: explode → 64 codegen'd SUMs).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    h = F.md5(F.concat(F.lit(f"{seed}|"), F.col("tok")))
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok")).select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    sums = []
    for b in range(64):
        src = F.col("h_lo") if b < 32 else F.col("h_hi")
        bit = F.shiftrightunsigned(src, b % 32).bitwiseAND(F.lit(1))
        sums.append(F.sum(bit * 2 - F.lit(1)).alias(f"s{b}"))
    agg = ex.groupBy("doc_id").agg(*sums)
    chunk_cols = []
    for c in range(4):
        chunk = F.lit(0).cast("long")
        for j in range(16):
            chunk = chunk + (F.col(f"s{16 * c + j}") > 0).cast("long") * F.lit(1 << j)
        chunk_cols.append(chunk.alias(f"c{c}"))
    return agg.select("doc_id", *chunk_cols)


def simhash_pairs_native(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 11,
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-dup pairs from the native md5 SimHash: candidates = any of the
    4 16-bit chunks equal (pigeonhole-complete for Hamming ≤ 3), exact
    Hamming rescoring over all 4 chunks. Never all-pairs; hot chunk buckets
    capped at max_bucket (see _cap_buckets)."""
    f = simhash_chunks_native(df, text_col, id_col, seed)
    chunks = f.select(
        "doc_id",
        "c0",
        "c1",
        "c2",
        "c3",
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("chunk_idx", "chunk"),
    )
    chunks = _cap_buckets(chunks, max_bucket)
    a = chunks.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"c{c}").alias(f"a_c{c}") for c in range(4)],
        "chunk_idx",
        "chunk",
    )
    b = chunks.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"c{c}").alias(f"b_c{c}") for c in range(4)],
        "chunk_idx",
        "chunk",
    )
    hamming = sum(
        F.bit_count(F.col(f"a_c{c}").bitwiseXOR(F.col(f"b_c{c}"))) for c in range(4)
    ).cast("long")
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold, computed only on MinHash-LSH
    candidate pairs (the scale path: candidates ≪ all-pairs)."""
    cands = minhash_lsh_pairs(df, text_col, id_col, k, bands, shingle_n)
    sh = df.select(F.col(id_col).alias("doc_id"), shingles_col(F.col(text_col), shingle_n).alias("sh"))
    pairs = (
        cands.join(sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")), "b_id")
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
    return pairs.select("a_id", "b_id", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)
