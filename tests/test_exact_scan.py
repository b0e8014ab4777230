"""The package's one exact similarity scan.

`ann_candidates(use_lsh=False)` runs `ann_topk_bruteforce` over the
linkable nodes. Its oracle is the exact arm it replaced, kept here
verbatim: canonical (a < b) all-pairs cosine, both orientations, then the
per-node top-k. Rows must be equal, scores compared with `==`.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cortex_spark.functions.similarity import cosine_col, top_k_by_score
from cortex_spark.linker.pipeline import ann_candidates, linkable
from cortex_spark.linker.rules import LinkerConfig
from tests.conftest import NODE_COLS, make_node


def brute_force_pairs(nodes: DataFrame, id_col: str = "node_id", vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine (small inputs / recall baseline). O(n²) —
    only for tests and ANN-recall measurement."""
    a = nodes.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = nodes.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cosine_col(F.col("a_vec"), F.col("b_vec")).alias("score"))
    )


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Canonical (a<b) pairs → both orientations (each node scans neighbors,
    auto_linker.rs:215-243)."""
    swapped = pairs.select(
        F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"), F.col("score")
    )
    return pairs.unionByName(swapped)


def _earlier_exact_arm(nodes: DataFrame, k: int) -> DataFrame:
    return top_k_by_score(symmetrize(brute_force_pairs(linkable(nodes))), "a_id", "b_id", k)


def _rows(df: DataFrame) -> list[tuple]:
    assert df.columns == ["a_id", "b_id", "score"]
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def hand_nodes(spark):
    """A zero vector; four copies of one vector plus a near neighbor of
    them (a top-2 cut lands inside the four-way tie); a null-embedding row
    and a deleted row that `linkable` drops; random vectors whose ids sort
    on either side of their neighbors'."""
    rng = np.random.default_rng(3)
    dup = [0.5, -0.25, 1.0, 0.125]
    rows = [
        make_node("m00", embedding=[0.0, 0.0, 0.0, 0.0]),
        *[make_node(f"d{i}", embedding=dup) for i in range(4)],
        make_node("a_near", embedding=[0.5, -0.25, 1.0, 0.25]),
        make_node("z_null", embedding=None),
        make_node("b_deleted", embedding=dup, deleted=True),
        *[make_node(f"r{i:02d}", embedding=[float(x) for x in rng.standard_normal(4)]) for i in range(14)],
    ]
    return spark.createDataFrame(rows, NODE_COLS)


@pytest.mark.parametrize("k", [1, 2, 3, 100])
def test_exact_candidates_match_earlier_arm_on_edge_cases(hand_nodes, k):
    got = _rows(ann_candidates(hand_nodes, LinkerConfig(ann_k=k), use_lsh=False))
    want = _rows(_earlier_exact_arm(hand_nodes, k))
    assert got == want
    ids = {a for a, _, _ in got} | {b for _, b, _ in got}
    assert "z_null" not in ids and "b_deleted" not in ids
    # the zero vector scores 0.0 against everything (the denom == 0 branch)
    assert {s for a, _, s in got if a == "m00"} == {0.0}
    if k == 2:
        # a_near's top two are two of the four tied copies: the lowest ids
        assert [b for a, b, _ in got if a == "a_near"] == ["d0", "d1"]


def test_exact_candidates_match_earlier_arm_on_extracted_nodes(spark):
    from cortex_spark.corpus import synth_pages
    from cortex_spark.extract.pipeline import pages_to_nodes

    nodes = pages_to_nodes(synth_pages(spark, 40, seed=11), embed_dim=64).localCheckpoint()
    for k in (5, LinkerConfig().ann_k):
        got = _rows(ann_candidates(nodes, LinkerConfig(ann_k=k), use_lsh=False))
        assert got == _rows(_earlier_exact_arm(nodes, k))
        assert got


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COSINE_CALL = re.compile(r"\b(cosine_col|cosine_from_norms)\(")
# the modules that may score cosines: the definitions, the exact scan, the
# verify step of the bucketed join (probe_topk) and the literal-query scan
COSINE_MODULES = {
    os.path.join("functions", "similarity.py"),
    os.path.join("dataops", "ann.py"),
    os.path.join("linker", "index.py"),
    "hybrid.py",
}


def test_one_exact_scan():
    pkg = os.path.join(ROOT, "cortex_spark")
    scorers = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, pkg)
            if name.endswith(".py") and rel not in COSINE_MODULES:
                with open(path) as f:
                    if COSINE_CALL.search(f.read()):
                        scorers.append(rel)
    assert scorers == []
