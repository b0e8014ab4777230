"""LSH tuner bucket/recall model on TRANSFORMER cosine geometry (round-5).

Everything else in the suite embeds with the hashing test double, whose
vectors are near-isotropic. The reference runs a real transformer
(bge-small-en-v1.5, vector/embedding.rs:27-57) — anisotropic,
shell-concentrated geometry — and nothing previously showed the LSH
tuner's bucket/recall model (linker/lsh.py:choose_lsh_params) survives it.
These tests run IN-CONTAINER (no skipif) against the pinned pure-numpy
mini-transformer (goldens/mini_transformer_w.npz, MiniLM-shaped:
2×[4-head MHA + LayerNorm + GELU FFN + LayerNorm], mean-pool, L2):

1. the fixture reproduces real-encoder anisotropy (mean pairwise cosine
   ≈ 0.68 here; the hashing encoder sits near 0),
2. origin-anchored sign bits then inflate hot buckets toward the
   max_bucket cap — the silent-recall-collapse hazard, pinned as the
   motivating measurement,
3. CENTERED signatures (band_sig_udf(center=…)) restore the isotropic
   bucket model (mean ≈ n/2^rows) and the per-pair collision model
   recall(s′) = 1-(1-p^r)^b measured on centered similarities,
4. the full engine path — candidate_topk(center="auto") and link_nodes
   over ann_candidates(lsh_kwargs={"center": "auto"}) vs the exact
   candidates — holds candidate recall and edge P/R ≥ 0.95 (the north-rule
   bar) on transformer embeddings end-to-end.

The same weights export to ONNX via scripts/export_transformer_onnx.py
where the optional `onnx` package exists; tests/test_embed_onnx.py pins
runtime parity with this numpy forward pass there.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from cortex_spark.embed_transformer import MiniTransformer, transformer_udf
from cortex_spark.linker.lsh import _hyperplanes, choose_lsh_params

SF01 = "/root/testdata/sf0.1"
SF001 = "/root/testdata/sf0.01"
WEIGHTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "goldens", "mini_transformer_w.npz")
N_GEO = 2000  # geometry corpus size (sf0.1 documents)


@pytest.fixture(scope="module")
def geometry():
    """(E float64 [n, 64], rows, bands, planes) over 2000 real doc texts."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF01}/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    tbl = sorted(tbl, key=lambda r: r["doc_id"])[:N_GEO]
    model = MiniTransformer.load(WEIGHTS)
    E = model.encode([r["text"][:400] for r in tbl]).astype(np.float64)
    rows, bands = choose_lsh_params(len(E))
    planes = _hyperplanes(E.shape[1], rows * bands, 7)
    return E, rows, bands, planes


def _band_sizes(X: np.ndarray, planes: np.ndarray, rows: int, bands: int) -> np.ndarray:
    bits = (X @ planes.T) > 0
    weights = (1 << np.arange(rows - 1, -1, -1)).astype(np.int64)
    sizes = []
    for b in range(bands):
        sig = bits[:, b * rows : (b + 1) * rows].astype(np.int64) @ weights
        sizes.extend(Counter(sig.tolist()).values())
    return np.array(sizes)


def _banded_candidates(X: np.ndarray, planes: np.ndarray, rows: int, bands: int) -> list[set]:
    bits = (X @ planes.T) > 0
    weights = (1 << np.arange(rows - 1, -1, -1)).astype(np.int64)
    cands: list[set] = [set() for _ in range(len(X))]
    for b in range(bands):
        sig = bits[:, b * rows : (b + 1) * rows].astype(np.int64) @ weights
        buckets = defaultdict(list)
        for i, s in enumerate(sig.tolist()):
            buckets[s].append(i)
        for idxs in buckets.values():
            for i in idxs:
                cands[i].update(idxs)
    return cands


def test_fixture_reproduces_real_encoder_anisotropy(geometry):
    """The mini-transformer exhibits the shell concentration real sentence
    encoders show: mean pairwise cosine far above the isotropic baseline
    (random gaussian directions in 64-d sit at 0 ± 1/√64) — the geometry
    regime the LSH tuner was never measured on before this round."""
    E, *_ = geometry
    iu = np.triu_indices(400, 1)
    cos_t = (E[:400] @ E[:400].T)[iu]
    assert cos_t.mean() > 0.3, f"transformer geometry unexpectedly isotropic: {cos_t.mean():.3f}"
    G = np.random.default_rng(3).standard_normal((400, 64))
    G /= np.linalg.norm(G, axis=1, keepdims=True)
    cos_g = (G @ G.T)[iu]
    assert abs(cos_g.mean()) < 0.05  # the isotropic reference point
    assert cos_t.mean() > cos_g.mean() + 0.3


def test_uncentered_buckets_inflate_centered_match_model(geometry):
    """The motivating hazard + the fix, as one pinned measurement: raw
    (origin-anchored) sign bits on anisotropic vectors produce hot buckets
    several times the isotropic model; centered bits bring the mean bucket
    onto the model (n/2^rows) and the max under control."""
    E, rows, bands, planes = geometry
    model_mean = len(E) / 2**rows
    raw = _band_sizes(E, planes, rows, bands)
    cen = _band_sizes(E - E.mean(axis=0), planes, rows, bands)
    # raw: hot buckets approach the DEFAULT_MAX_BUCKET cap already at n=2k
    assert raw.max() > 4 * model_mean, f"raw max bucket {raw.max()} vs model {model_mean}"
    # centered: the tuner's uniform-bits bucket model holds
    assert 0.6 * model_mean <= cen.mean() <= 1.5 * model_mean, cen.mean()
    assert cen.max() < 3 * model_mean, f"centered max bucket {cen.max()}"


def test_recall_model_holds_on_centered_transformer_geometry(geometry):
    """Measured banded-candidate recall of the true cosine top-10 must meet
    the tuner's own per-pair collision model evaluated at the CENTERED
    similarities, and the north-rule 0.95 floor."""
    E, rows, bands, planes = geometry
    n = len(E)
    S = E @ E.T
    norm = np.linalg.norm(E, axis=1)
    S = S / np.outer(norm, norm)
    np.fill_diagonal(S, -2.0)
    topk = np.argsort(-S, axis=1)[:, :10]

    C = E - E.mean(axis=0)
    cands = _banded_candidates(C, planes, rows, bands)
    hits = sum(len(set(topk[i]) & cands[i]) for i in range(n))
    measured = hits / (n * 10)

    # model: recall(s') = 1-(1-p^r)^b with p = 1-arccos(s')/pi on the
    # centered-similarity of each true pair
    nc = np.linalg.norm(C, axis=1)
    predicted = []
    for i in range(n):
        for j in topk[i]:
            sprime = float(C[i] @ C[j] / max(nc[i] * nc[j], 1e-300))
            p = 1.0 - np.arccos(np.clip(sprime, -1.0, 1.0)) / np.pi
            predicted.append(1.0 - (1.0 - p**rows) ** bands)
    predicted = float(np.mean(predicted))
    assert measured >= 0.95, f"measured recall {measured:.4f} under the north-rule bar"
    assert measured >= predicted - 0.03, f"measured {measured:.4f} vs model {predicted:.4f}"


def test_candidate_topk_center_auto_recall_on_spark(spark, geometry):
    """The engine path: candidate_topk(center='auto') over transformer
    embeddings recalls ≥0.95 of the exact top-10 pairs."""
    from cortex_spark.linker.lsh import candidate_topk

    E, *_ = geometry
    n = 1000  # keep the exact reference O(n²) cheap
    X = E[:n].astype(np.float32)
    df = spark.createDataFrame(
        [(f"n{i:04d}", [float(x) for x in X[i]]) for i in range(n)],
        "node_id string, embedding array<float>",
    ).repartition(8)
    got = candidate_topk(df, k=10, n_rows=n, center="auto")
    got_pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    Xd = X.astype(np.float64)
    S = Xd @ Xd.T
    norm = np.linalg.norm(Xd, axis=1)
    S = S / np.outer(norm, norm)
    np.fill_diagonal(S, -2.0)
    true_pairs = {
        (f"n{i:04d}", f"n{j:04d}") for i in range(n) for j in np.argsort(-S[i])[:10]
    }
    recall = len(true_pairs & got_pairs) / len(true_pairs)
    assert recall >= 0.95, f"candidate_topk recall {recall:.4f} on transformer geometry"


def test_full_linker_lsh_vs_exact_on_transformer_embeddings(spark):
    """End-to-end: the KG linker over TRANSFORMER embeddings (hashing
    encoder swapped out via the same Arrow-batched UDF seam), LSH+center
    path vs the exact all-pairs path — edge P/R ≥ 0.95 (the same bar
    test_pipeline_e2e pins for hashing geometry)."""
    from cortex_spark.corpus import pages_from_documents
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes
    from cortex_spark.linker.rules import LinkerConfig

    pages = pages_from_documents(spark, SF001).filter(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int") < 300
    )
    nodes = (
        pages_to_nodes_fused(pages, embed_dim=64)
        .withColumn("embedding", transformer_udf(WEIGHTS)(F.col("body")))
        .localCheckpoint()
    )
    n = nodes.count()
    cfg = LinkerConfig(max_edges_per_node=8)
    exact = link_nodes(nodes, config=cfg, candidates=ann_candidates(nodes, cfg, use_lsh=False))
    lsh = link_nodes(
        nodes, config=cfg,
        candidates=ann_candidates(nodes, cfg, lsh_kwargs={"dim": 64, "n_rows": n, "center": "auto"}),
    )
    e = {(r["src"], r["dst"], r["relation"]) for r in exact.collect()}
    l = {(r["src"], r["dst"], r["relation"]) for r in lsh.collect()}
    assert e, "exact path emitted no edges"
    precision = len(e & l) / max(len(l), 1)
    recall = len(e & l) / len(e)
    assert precision >= 0.95 and recall >= 0.95, (
        f"transformer-geometry edge P/R {precision:.4f}/{recall:.4f} (|exact|={len(e)}, |lsh|={len(l)})"
    )


def test_transformer_udf_matches_driver_forward(spark):
    """The Arrow-batched UDF output matches a driver-side encode() call
    (same weights, same tokenizer) to float32 GEMM reproducibility: BLAS
    picks different blocking per batch shape, so executor batches differ
    from the driver's single batch in the last ulp — unlike the hashing
    production encoder (per-row scalar sums, bit-identical at any
    partitioning), which is why the DETERMINISM legs pin the hashing path.
    1e-5 on L2-normalized outputs is ~100× the observed ulp noise."""
    texts = [f"doc {i} discusses entity{i % 5} and decided to use spark" for i in range(40)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {r["i"]: np.array(r["e"], dtype=np.float32)
           for r in df.select("i", transformer_udf(WEIGHTS)(F.col("text")).alias("e")).collect()}
    want = MiniTransformer.load(WEIGHTS).encode(texts)
    for i in range(40):
        assert np.allclose(got[i], want[i], atol=1e-5), np.abs(got[i] - want[i]).max()
