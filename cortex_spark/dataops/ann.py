"""Approximate-nearest-neighbor search over an embedding column.

- ann_topk_bruteforce: exact top-k per query — broadcast the (small) query
  set against the corpus, native cosine, window rank. The package's one
  exact similarity scan: the gate's small batches, the linker's exact
  candidates (linker.pipeline.ann_candidates, nodes on both sides) and the
  tests' recall baseline; fine whenever |queries| is broadcastable.
- ann_topk_lsh and ann_topk_ivf: the scale paths, one join with two
  filters. Both run `linker.index.probe_topk` (the bucketed join the
  persisted LSH index's probe also runs) with every bucket whole: only
  corpus rows sharing a bucket with a query are rescored exactly, so
  query cost is proportional to bucket sizes, not corpus size.
  - ann_topk_lsh buckets by (band, signature), over the corpus's signature
    rows computed in memory. Recall is tunable via (n_planes, bands).
  - ann_topk_ivf buckets by IVF cell: k-means centroids fit driver-side on
    a deterministic sample (standard IVF practice), each corpus vector in
    its nearest-centroid cell (an Arrow GEMM), each query probing its
    `nprobe` nearest cells. Query cost ∝ nprobe/n_centroids of the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.functions.similarity import cosine_from_norms, l2_norm_col, top_k_by_score
from cortex_spark.linker.index import probe_topk, query_rows, signature_rows, signed_queries
from cortex_spark.linker.lsh import infer_dim


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score, rank ≤ k); exact, deterministic
    tie-break on neighbor id."""
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm_col(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm_col(F.col(vec_col)).alias("q_norm"),
    )
    scored = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("score"),
    )
    return top_k_by_score(scored, "query_id", "neighbor_id", k, rank_col="rank")


def _bucketed_topk(stored: DataFrame, qn: DataFrame, k: int) -> DataFrame:
    """`probe_topk`, uncapped, in this module's column names."""
    top = probe_topk(stored, qn, k, max_bucket=None, rank_col="rank")
    return top.select(
        F.col("a_id").alias("query_id"), F.col("b_id").alias("neighbor_id"), "score", "rank"
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """LSH-bucketed top-k through the index probe's kernel, uncapped: the
    corpus is the stored side (one version per row, b_seq 0), the queries
    the signed query side. Signing the queries is one eager Spark job at
    call time; the returned frame reads their checkpointed blocks, which
    Spark's context cleaner frees once the frame is garbage collected."""
    lsh = (infer_dim(corpus, vec_col), n_planes, bands, seed)
    stored = signature_rows(corpus, corpus_id, vec_col, *lsh).select(
        F.col("node_id").alias("b_id"), F.col("vec").alias("b_vec"), "sig",
        F.lit(0).alias("b_seq"),
    )
    return _bucketed_topk(stored, signed_queries(queries, query_id, vec_col, *lsh), k)


def _ivf_sample(corpus, vec_col: str, corpus_id: str, sample_cap: int, seed: int, n: int):
    """The quantizer-fit sample query: hash-threshold filter to ~2×cap
    survivors, then TakeOrderedAndProject over that tiny set. No Exchange,
    no global Sort anywhere in the plan (pytest-audited)."""
    h = F.xxhash64(F.col(corpus_id).cast("string"), F.lit(seed))
    k = max(1, n // (2 * sample_cap))
    return (
        corpus.select(F.col(vec_col).alias("v"), F.col(corpus_id).alias("i"))
        .filter(F.col("v").isNotNull())
        .filter(F.pmod(h, F.lit(k)) == 0)
        .orderBy(h)
        .limit(sample_cap)
    )


def fit_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    n_centroids: int = 16,
    sample_cap: int = 2048,
    iters: int = 8,
    seed: int = 7,
    n_rows: int | None = None,
):
    """Spherical k-means on a deterministic hash-thresholded sample
    (driver-side Lloyd iterations — the coarse quantizer is always
    sample-trained; only assignment is distributed). Returns an
    L2-normalized (n_centroids, dim) float32 numpy array.

    Sampling never total-orders the corpus: a pmod(xxhash64) filter keeps
    ~2×sample_cap rows (id-deterministic, partition-layout-independent),
    and only that small survivor set goes through TakeOrderedAndProject.
    The old orderBy-then-limit kept a sample_cap heap per partition and
    merged num_partitions×cap rows on the driver — a real job at 100 TB.

    Pass `n_rows` (the same contract as candidate_topk) to skip the count
    job entirely — the count only sizes the pmod modulus, so an estimate
    within ~2× is fine; without it one metadata-backed count runs."""
    n = n_rows if n_rows is not None else corpus.count()  # metadata-backed: no shuffle
    sample = _ivf_sample(corpus, vec_col, corpus_id, sample_cap, seed, n).collect()
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C.astype(np.float32)


def _cell_udf(centroids, nprobe: int):
    """Arrow pandas UDF: vector → its `nprobe` nearest-centroid cell ids
    (batched float32 GEMM; one row of the centroid matrix is broadcast to
    every executor inside the serialized UDF closure)."""
    C = centroids  # (n_centroids, dim) float32, normalized

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float32)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T
        n = min(nprobe, C.shape[0])
        # argpartition then exact sort of the head — O(n_centroids) per row
        idx = np.argpartition(-sims, n - 1, axis=1)[:, :n]
        order = np.take_along_axis(-sims, idx, axis=1).argsort(axis=1)
        top = np.take_along_axis(idx, order, axis=1)
        return pd.Series([row.astype(int).tolist() for row in top])

    return cells


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    centroids=None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF top-k through `probe_topk`: each corpus vector is a stored row
    in its top-1 centroid cell (one version, b_seq 0), each query probes its
    `nprobe` nearest cells, and the exact cosine rescore + rank run inside
    the probed cells only. Pass precomputed `centroids` to reuse a fitted
    quantizer. Like ann_topk_lsh, the queries are materialized by one
    eager Spark job at call time."""
    C = centroids if centroids is not None else fit_ivf_centroids(
        corpus, vec_col, corpus_id, n_centroids, seed=seed, n_rows=n_rows
    )
    # null-embedding rows are dropped on BOTH sides (the same contract as
    # the linker paths); _cell_udf would otherwise fail the whole stage on a
    # ragged batch
    stored = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(corpus_id).alias("b_id"), F.col(vec_col).alias("b_vec"),
        _cell_udf(C, 1)(F.col(vec_col))[0].alias("sig"), F.lit(0).alias("b_seq"),
    )
    qn = query_rows(
        queries.filter(F.col(vec_col).isNotNull()), query_id, vec_col,
        _cell_udf(C, nprobe)(F.col(vec_col)),
    )
    return _bucketed_topk(stored, qn, k)
