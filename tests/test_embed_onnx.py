"""ONNX encoder seam (embed.py): prod-parity for the swap-in path.

Where onnx + onnxruntime are importable, builds a tiny random-weight
model (Gather embedding → mean-pool → MatMul projection — the skeleton of
a sentence encoder) and drives it through the SAME pandas-UDF shape as
the hashing encoder, then re-runs the linker over ONNX-backed embeddings
to prove the whole KG path is encoder-agnostic. Where the libs are absent
(this container), the tests skip and the factory's fail-fast ImportError
contract is asserted instead.
"""

from __future__ import annotations

import numpy as np
import pytest


def _has(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


HAS_ONNX = _has("onnx") and _has("onnxruntime")


def _build_tiny_model(path: str, vocab: int = 1024, hidden: int = 32, dim: int = 64) -> None:
    """(input_ids int64 [batch, seq]) → (float32 [batch, dim]): embedding
    lookup, mean pool over seq, dense projection. Seeded random weights."""
    import onnx
    from onnx import TensorProto, helper, numpy_helper

    rng = np.random.default_rng(7)
    emb = numpy_helper.from_array(
        rng.standard_normal((vocab, hidden), dtype=np.float32), name="emb")
    proj = numpy_helper.from_array(
        rng.standard_normal((hidden, dim), dtype=np.float32), name="proj")
    nodes = [
        helper.make_node("Gather", ["emb", "input_ids"], ["looked_up"]),
        helper.make_node("ReduceMean", ["looked_up"], ["pooled"], axes=[1], keepdims=0),
        helper.make_node("MatMul", ["pooled", "proj"], ["output"]),
    ]
    graph = helper.make_graph(
        nodes, "tiny_encoder",
        [helper.make_tensor_value_info("input_ids", TensorProto.INT64, ["batch", "seq"])],
        [helper.make_tensor_value_info("output", TensorProto.FLOAT, ["batch", dim])],
        initializer=[emb, proj],
    )
    model = helper.make_model(graph, opset_imports=[helper.make_opsetid("", 13)])
    onnx.checker.check_model(model)
    onnx.save(model, path)


@pytest.mark.skipif(not HAS_ONNX, reason="optional onnx/onnxruntime absent")
def test_onnx_udf_matches_local_forward(spark, tmp_path):
    """UDF output is bit-identical to a driver-side encode_batch_onnx call
    (same tokenizer, same session contract)."""
    import pandas as pd

    from cortex_spark.embed import embed_udf_onnx, encode_batch_onnx

    mp = str(tmp_path / "tiny.onnx")
    _build_tiny_model(mp)
    texts = [f"document number {i} about topic {i % 7}" for i in range(100)]
    local = encode_batch_onnx(pd.Series(texts), mp)

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    udf = embed_udf_onnx(mp)
    got = df.select(udf(F.col("text")).alias("e")).toPandas()["e"]
    for a, b in zip(local, got):
        assert np.allclose(np.array(a), np.array(b), atol=0.0), "UDF != local forward"
    norms = [float(np.linalg.norm(np.array(v))) for v in got]
    assert all(abs(n - 1.0) < 1e-5 for n in norms), "rows must be L2-normalized"


@pytest.mark.skipif(not HAS_ONNX, reason="optional onnx/onnxruntime absent")
def test_linker_runs_on_onnx_embeddings(spark, tmp_path):
    """The KG link stage is encoder-agnostic: swap the hashing encoder for
    the ONNX UDF on 100 docs and the LSH candidate/link path still
    produces a well-formed, deterministic edge set."""
    from pyspark.sql import functions as F

    from cortex_spark.corpus import synth_pages
    from cortex_spark.embed import embed_udf_onnx
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes

    mp = str(tmp_path / "tiny.onnx")
    _build_tiny_model(mp)
    pages = synth_pages(spark, 100, seed=42)
    nodes = pages_to_nodes_fused(pages, embed_dim=64)
    udf = embed_udf_onnx(mp, vocab_size=1024)
    nodes = nodes.withColumn(
        "embedding", udf(F.concat_ws(" ", F.col("title"), F.col("body")))
    ).localCheckpoint()
    n_nodes = nodes.count()
    lsh_kwargs = {"dim": 64, "n_rows": n_nodes}
    edges = link_nodes(nodes, candidates=ann_candidates(nodes, lsh_kwargs=lsh_kwargs))
    e1 = edges.localCheckpoint()
    sig = e1.select(
        F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert sig["n"] > 0, "ONNX-backed linker produced no edges"
    # determinism: a second run over the same input is bit-identical
    e2 = link_nodes(nodes, candidates=ann_candidates(nodes, lsh_kwargs=lsh_kwargs))
    sig2 = e2.select(
        F.sum(F.xxhash64("src", "dst", "relation").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert (str(sig["s"]), sig["n"]) == (str(sig2["s"]), sig2["n"])


@pytest.mark.skipif(HAS_ONNX, reason="asserts the ABSENT-dependency contract")
def test_onnx_factory_fails_fast_without_runtime():
    """Without onnxruntime the factory raises ImportError at construction
    (driver-side), never a mid-job executor crash — documented quarantine
    behavior of the seam."""
    from cortex_spark.embed import embed_udf_onnx

    with pytest.raises(ImportError):
        embed_udf_onnx("/nonexistent/model.onnx")


def test_hashing_tokenizer_contract():
    """Tokenizer invariants hold with or without onnxruntime: fixed width,
    0-padding, 1-based buckets inside [1, vocab), deterministic."""
    import pandas as pd

    from cortex_spark.embed import MAX_TOKENS, tokenize_batch

    s = pd.Series(["alpha beta gamma", "", None, " ".join(f"t{i}" for i in range(200))])
    ids = tokenize_batch(s, vocab_size=64)
    assert ids.shape == (4, MAX_TOKENS) and ids.dtype == np.int64
    assert ids[1].sum() == 0 and ids[2].sum() == 0, "empty/null rows are all padding"
    assert ids[0][3:].sum() == 0, "padding after the last real token"
    assert ids.max() < 64 and ids[ids > 0].min() >= 1
    assert np.array_equal(ids, tokenize_batch(s, vocab_size=64))


@pytest.mark.skipif(not HAS_ONNX, reason="optional onnx/onnxruntime absent")
def test_mini_transformer_onnx_parity(tmp_path):
    """The pinned mini-transformer weights (goldens/mini_transformer_w.npz)
    export to ONNX (scripts/export_transformer_onnx.py) and the runtime's
    forward pass matches the in-container numpy forward pass — so the
    transformer-geometry evidence (tests/test_transformer_geometry.py)
    transfers to the prod ONNX seam."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    from export_transformer_onnx import WEIGHTS, main as export_onnx

    from cortex_spark.embed import encode_batch_onnx
    from cortex_spark.embed_transformer import MiniTransformer

    path = str(tmp_path / "mini_transformer.onnx")
    export_onnx(path)
    model = MiniTransformer.load(WEIGHTS)
    texts = pd.Series(
        [f"document {i} decided to use entity{i % 5} for the pattern" for i in range(32)]
        + ["", "a"]
    )
    got = np.stack([np.array(v, dtype=np.float32)
                    for v in encode_batch_onnx(texts, path, vocab_size=model.vocab)])
    want = model.encode(texts)
    # runtime kernels (fused LayerNorm/Softmax) differ from numpy in the
    # last ulps; the output is L2-normalized so 1e-5 is ~100x headroom
    assert np.allclose(got, want, atol=1e-5), np.abs(got - want).max()
