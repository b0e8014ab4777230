"""LshIndexStore.probe: the one-pass plan returns exactly what the earlier
plan did.

`_probe_oracle` is the earlier probe body, kept verbatim as the oracle: it
re-derives the query signatures per use, scans and caps the index twice and
computes both norms per pair. Every case compares the `(a_id, b_id, score)`
rows with `==` — scores must be bit-identical, not close:

- a re-appended (updated) node whose STALE signature surfaces it scores
  against its newest vector;
- a query that is also a stored node never meets itself;
- hot buckets past the cap (`DEFAULT_MAX_BUCKET` patched small);
- an all-zero embedding scores 0.0;
- a `k` that cuts inside a score tie keeps the lowest ids.

`dataops.ann.ann_topk_lsh` runs the same kernel over signature rows it
computes in memory; `_ann_lsh_oracle` is its earlier two-sided join, and
the two agree row for row (rank included), hot buckets past the probe's
cap too: `ann_topk_lsh` runs the kernel uncapped. No module outside
`linker/` signs vectors for an LSH join.

`dataops.ann.ann_topk_ivf` runs the kernel too, with IVF cells for band
signatures; `_ann_ivf_oracle` is its earlier body, kept verbatim, and the
two agree row for row (rank included) with null embeddings on both sides,
a query that is also a corpus row, a `k` inside a tie and `nprobe` up to
past the cell count. Both oracles rescore through `_rescore_oracle`, the
earlier ANN rescore tail.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cortex_spark.dataops.ann import (
    _cell_udf,
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_lsh,
    fit_ivf_centroids,
)
from cortex_spark.functions.similarity import (
    cosine_col,
    cosine_from_norms,
    l2_norm_col,
    top_k_by_score,
)
from cortex_spark.linker import lsh
from cortex_spark.linker.index import N_BUCKET_PARTS, LshIndexStore, signature_rows

DIM = 8
SCHEMA = "node_id string, embedding array<float>"


def _probe_oracle(
    store: LshIndexStore,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "node_id",
    vec_col: str = "embedding",
) -> DataFrame:
    from cortex_spark.linker.lsh import DEFAULT_MAX_BUCKET

    idx = store.spark.read.parquet(store.data_dir)
    if "append_seq" not in idx.columns:
        idx = idx.withColumn("append_seq", F.lit(0))
    q = signature_rows(
        queries, id_col, vec_col, store.dim, store.n_planes, store.bands, store.seed, store.center
    ).select(
        F.col("node_id").alias("a_id"), F.col("vec").alias("a_vec"), "sig"
    )
    if "bucket" in idx.columns:
        bvals = [
            r["b"]
            for r in q.select(
                F.pmod(F.xxhash64("sig"), F.lit(N_BUCKET_PARTS)).alias("b")
            ).distinct().collect()
        ]
        idx = idx.filter(F.col("bucket").isin(bvals))
    idx = idx.select(
        F.col("node_id").alias("b_id"), F.col("vec").alias("b_vec"), "sig",
        F.col("append_seq").alias("b_seq"),
    )
    probe_sigs = q.select("sig").distinct()
    idx_hit = idx.join(F.broadcast(probe_sigs), "sig")
    w_cap = Window.partitionBy("sig").orderBy(F.desc("b_seq"), F.asc("b_id"))
    idx_hit = (
        idx_hit.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= DEFAULT_MAX_BUCKET)
        .drop("rn")
    )
    cands = idx_hit.join(q, "sig").filter(F.col("a_id") != F.col("b_id"))
    latest_b = cands.groupBy("b_id").agg(
        F.max_by(F.col("b_vec"), F.col("b_seq")).alias("b_latest")
    )
    pairs = cands.select("a_id", "b_id", "a_vec").dropDuplicates(["a_id", "b_id"])
    scored = pairs.join(latest_b, "b_id").select(
        "a_id", "b_id", cosine_col(F.col("a_vec"), F.col("b_latest")).alias("score")
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("score"), F.asc("b_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _rescore_oracle(cands: DataFrame, k: int) -> DataFrame:
    """The earlier ANN rescore tail: drop self matches, exact cosine from
    the per-row norms, per-query top-k."""
    scored = cands.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("score"),
    )
    return top_k_by_score(scored, "query_id", "neighbor_id", k, rank_col="rank")


def _ann_lsh_oracle(
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
    """The earlier `ann_topk_lsh`: both sides signed and exploded, joined on
    sig, deduplicated per pair, rescored — no hot-bucket cap."""
    dim = lsh.infer_dim(corpus, vec_col)
    c = lsh.add_lsh_bands(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        "c_vec", dim, n_planes, bands, seed,
    ).select(
        "neighbor_id", "c_vec", l2_norm_col(F.col("c_vec")).alias("c_norm"),
        F.explode("lsh_sigs").alias("sig"),
    )
    q = lsh.add_lsh_bands(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec", dim, n_planes, bands, seed,
    ).select(
        "query_id", "q_vec", l2_norm_col(F.col("q_vec")).alias("q_norm"),
        F.explode("lsh_sigs").alias("sig"),
    )
    return _rescore_oracle(c.join(q, "sig").dropDuplicates(["query_id", "neighbor_id"]), k)


def _ann_ivf_oracle(
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
    """The earlier `ann_topk_ivf`: its own cell join, broadcasting the
    exploded query cells against the corpus's top-1 cells."""
    C = centroids if centroids is not None else fit_ivf_centroids(
        corpus, vec_col, corpus_id, n_centroids, seed=seed, n_rows=n_rows
    )
    # null-embedding rows are dropped on BOTH sides (the same contract as
    # the linker paths); _cell_udf would otherwise fail the whole stage on a
    # ragged batch
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).filter(F.col("c_vec").isNotNull()).withColumn("cell", _cell_udf(C, 1)(F.col("c_vec"))[0]).withColumn(
        "c_norm", l2_norm_col(F.col("c_vec"))
    )
    q = (
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .filter(F.col("q_vec").isNotNull())
        .withColumn("cell", F.explode(_cell_udf(C, nprobe)(F.col("q_vec"))))
        .withColumn("q_norm", l2_norm_col(F.col("q_vec")))
    )
    return _rescore_oracle(c.join(F.broadcast(q), "cell"), k)


def _rows(df: DataFrame) -> set[tuple]:
    return {(r["a_id"], r["b_id"], r["score"]) for r in df.collect()}


def _vec(v) -> list[float]:
    return [float(x) for x in np.asarray(v, dtype=np.float32)]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """A coarse index (4 planes in 2 bands ⇒ ≤ 4 buckets per band, so buckets
    are hot) holding 40 random nodes, three identical copies of `w`, a zero
    vector, and node `u` appended twice: first at `q`, then at `-q`, whose
    signature shares no band with `q`'s."""
    rng = np.random.default_rng(3)
    q = rng.standard_normal(DIM)
    w = rng.standard_normal(DIM)
    base = [(f"r{i:02d}", _vec(rng.standard_normal(DIM))) for i in range(40)]
    base += [(f"t{i}", _vec(w)) for i in range(3)]
    base += [("z_store", [0.0] * DIM), ("u", _vec(q))]
    store = LshIndexStore(
        str(tmp_path_factory.mktemp("probe") / "lsh"), spark, dim=DIM, n_planes=4, bands=2
    )
    store.append(spark.createDataFrame(base, SCHEMA))
    store.append(spark.createDataFrame([("u", _vec(-q))], SCHEMA))
    queries = spark.createDataFrame(
        [("q_u", _vec(q)), ("q_neg", _vec(-q)), ("q_t", _vec(w)), ("z_query", [0.0] * DIM),
         ("r00", base[0][1])]
        + [(f"q{i}", _vec(rng.standard_normal(DIM))) for i in range(5)],
        SCHEMA,
    ).localCheckpoint(eager=True)
    return store, queries, q


def test_probe_matches_oracle(index):
    store, queries, _ = index
    for k in (2, 50):  # k=2 cuts inside q_t's three-way tie
        want = _rows(_probe_oracle(store, queries, k=k))
        got = _rows(store.probe(queries, k=k))
        assert got == want, (k, got ^ want)
        # r00 is both a query and a stored node: it never meets itself
        assert ("r00", "r00") not in {(a, b) for a, b, _ in got}


def test_stale_signature_scores_newest_vector(index):
    """`u` is reachable from q_u only through its first version's
    signature; q_neg probes the second version's buckets, so that version
    is visible and q_u must score against it (-q), i.e. -1."""
    store, queries, _ = index
    got = {(a, b): s for a, b, s in _rows(store.probe(queries, k=50))}
    assert got[("q_u", "u")] == pytest.approx(-1.0)


def test_newest_version_resolved_after_exclude_self(spark, index):
    """`u` probes with its current vector (-q), as a re-appended fresh node
    does in a cycle. Its self-match is the only row that sees its second
    version, so with the self-match dropped that version stays invisible
    and q_u scores against the first (+1)."""
    store, _, q = index
    queries = spark.createDataFrame([("u", _vec(-q)), ("q_u", _vec(q))], SCHEMA)
    got = _rows(store.probe(queries, k=50))
    assert got == _rows(_probe_oracle(store, queries, k=50))
    assert {(a, b): s for a, b, s in got}[("q_u", "u")] == pytest.approx(1.0)


def test_zero_embedding_scores_zero(index):
    store, queries, _ = index
    got = {(a, b): s for a, b, s in _rows(store.probe(queries, k=50))}
    assert got[("z_query", "z_store")] == 0.0
    assert all(s == 0.0 for (a, _), s in got.items() if a == "z_query")


def test_k_cuts_inside_a_tie(index):
    """t0, t1, t2 are identical vectors, so q_t ties on all three; k=2
    keeps the lowest ids."""
    store, queries, _ = index
    got = sorted((b, s) for a, b, s in _rows(store.probe(queries, k=2)) if a == "q_t")
    assert [b for b, _ in got] == ["t0", "t1"]
    assert got[0][1] == got[1][1]


def test_hot_bucket_cap_matches_oracle(index, monkeypatch):
    store, queries, _ = index
    uncapped = _rows(store.probe(queries, k=50))
    monkeypatch.setattr(lsh, "DEFAULT_MAX_BUCKET", 3)
    got = _rows(store.probe(queries, k=50))
    assert got != uncapped  # the cap bites
    assert got == _rows(_probe_oracle(store, queries, k=50))


# --------------------------------------------------------------------------
# ann_topk_lsh: the same kernel over in-memory signature rows
# --------------------------------------------------------------------------


def _ann_rows(df: DataFrame) -> set[tuple]:
    return {(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in df.collect()}


@pytest.fixture(scope="module")
def ann_case(spark, index):
    """The index fixture's first append as an in-memory corpus (`u` at its
    first vector, so every id has one version) and its queries, by vec_id."""
    store, queries, _ = index
    corpus = (
        spark.read.parquet(store.data_dir)
        .filter("append_seq = 0")
        .select(F.col("node_id").alias("vec_id"), F.col("vec").alias("embedding"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return corpus, queries.withColumnRenamed("node_id", "vec_id")


def test_ann_topk_lsh_matches_two_sided_join(ann_case):
    corpus, queries = ann_case
    got = {}
    for k in (2, 50):  # k=2 cuts inside q_t's three-way tie
        got[k] = _ann_rows(ann_topk_lsh(corpus, queries, k=k, n_planes=4, bands=2))
        want = _ann_rows(_ann_lsh_oracle(corpus, queries, k=k, n_planes=4, bands=2))
        assert got[k] == want, (k, got[k] ^ want)
    by_pair = {(a, b): (s, r) for a, b, s, r in got[50]}
    assert ("r00", "r00") not in by_pair  # r00 is a query and a corpus row
    zero = [s for (a, _), (s, _) in by_pair.items() if a == "z_query"]
    assert zero and set(zero) == {0.0}
    assert sorted((r, b) for a, b, _, r in got[2] if a == "q_t") == [(1, "t0"), (2, "t1")]
    ranks: dict[str, list[int]] = {}
    for (a, _), (_, r) in by_pair.items():
        ranks.setdefault(a, []).append(r)
    assert all(sorted(rs) == list(range(1, len(rs) + 1)) for rs in ranks.values())


def _band_sigs(df: DataFrame) -> dict[str, set[int]]:
    rows = df.collect()
    sigs = lsh.band_signer(DIM, 4, 2, 7)(np.array([r["embedding"] for r in rows], dtype=np.float64))
    return {r["vec_id"]: {int(x) for x in s} for r, s in zip(rows, sigs)}


def test_ann_topk_lsh_keeps_hot_buckets_whole(ann_case, monkeypatch):
    """The probe caps each hot bucket; ann_topk_lsh does not. With the cap
    at 3 — below the fixture's fullest buckets — it still returns the
    two-sided join's rows exactly."""
    corpus, queries = ann_case
    sizes: dict[int, int] = {}
    for sigs in _band_sigs(corpus).values():
        for sig in sigs:
            sizes[sig] = sizes.get(sig, 0) + 1
    assert max(sizes.values()) > 3  # the cap would bite
    monkeypatch.setattr(lsh, "DEFAULT_MAX_BUCKET", 3)
    got = _ann_rows(ann_topk_lsh(corpus, queries, k=50, n_planes=4, bands=2))
    assert got == _ann_rows(_ann_lsh_oracle(corpus, queries, k=50, n_planes=4, bands=2))


# --------------------------------------------------------------------------
# ann_topk_ivf: the same kernel over IVF cells
# --------------------------------------------------------------------------

N_CELLS = 4


@pytest.fixture(scope="module")
def ivf_case(spark, ann_case):
    """`ann_case` plus a null embedding on each side, and a quantizer of
    N_CELLS cells fit on the corpus."""
    corpus, queries = ann_case
    schema = "vec_id string, embedding array<float>"
    corpus = corpus.unionByName(spark.createDataFrame([("n_store", None)], schema))
    queries = queries.unionByName(spark.createDataFrame([("n_query", None)], schema))
    return corpus, queries, fit_ivf_centroids(corpus, n_centroids=N_CELLS)


@pytest.mark.parametrize("nprobe", [1, 2, N_CELLS, N_CELLS + 2])
def test_ann_topk_ivf_matches_cell_join(ivf_case, nprobe):
    corpus, queries, C = ivf_case
    assert len(C) == N_CELLS
    got = {}
    for k in (2, 50):  # k=2 cuts inside q_t's three-way tie
        got[k] = _ann_rows(ann_topk_ivf(corpus, queries, k=k, nprobe=nprobe, centroids=C))
        want = _ann_rows(_ann_ivf_oracle(corpus, queries, k=k, nprobe=nprobe, centroids=C))
        assert got[k] == want, (k, got[k] ^ want)
    ids = {a for a, *_ in got[50]} | {b for _, b, *_ in got[50]}
    assert "r00" in ids and not ids & {"n_store", "n_query"}  # null embeddings drop
    assert not [a for a, b, *_ in got[50] if a == b]  # r00 never meets itself
    # t0..t2 share q_t's vector, hence its nearest cell
    assert sorted((r, b) for a, b, _, r in got[2] if a == "q_t") == [(1, "t0"), (2, "t1")]


def test_ann_topk_ivf_probing_every_cell_is_exact(ivf_case):
    """With nprobe ≥ the cell count every corpus row is a candidate, so the
    IVF rows equal brute force's over the non-null corpus, bit for bit."""
    corpus, queries, C = ivf_case
    got = _ann_rows(ann_topk_ivf(corpus, queries, k=50, nprobe=N_CELLS + 2, centroids=C))
    live = corpus.filter(F.col("embedding").isNotNull())
    want = _ann_rows(ann_topk_bruteforce(live, queries.filter(F.col("embedding").isNotNull()), k=50))
    assert got == want


def test_ann_topk_ivf_fits_the_same_quantizer(ivf_case):
    corpus, queries, _ = ivf_case
    got = _ann_rows(ann_topk_ivf(corpus, queries, k=5, n_centroids=N_CELLS, nprobe=2))
    want = _ann_rows(_ann_ivf_oracle(corpus, queries, k=5, n_centroids=N_CELLS, nprobe=2))
    assert got == want


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LSH_SIGNING = re.compile(r"\b(add_lsh_bands|band_sig_udf|_sig_vec_udf)\(")
# the modules that may sign vectors for an LSH join: the signer itself and
# the one query-vs-corpus join (index probe and ann_topk_lsh alike)
SIGNING_MODULES = {os.path.join("linker", "lsh.py"), os.path.join("linker", "index.py")}


def test_one_lsh_join():
    pkg = os.path.join(ROOT, "cortex_spark")
    signers = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, pkg)
            if name.endswith(".py") and rel not in SIGNING_MODULES:
                with open(path) as f:
                    if LSH_SIGNING.search(f.read()):
                        signers.append(rel)
    assert signers == []
    # the incremental cycle's one candidate source is its index probe
    with open(os.path.join(pkg, "pipeline", "incremental.py")) as f:
        assert "ann_topk_lsh" not in f.read()
