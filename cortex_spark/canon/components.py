"""Connected components via alternating large-star / small-star joins.

The canonicalization kernel (SURVEY §2.8 G12). The reference flood-fills
with BFS from every unvisited node (graph/engine.rs:282-301) — inherently
sequential. The scalable equivalent is the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
O(log² n) rounds of two DataFrame self-joins, each round strictly
shrinking parent pointers toward the component minimum.

Scale notes: every round is two shuffles on node id; `localCheckpoint`
every round cuts the exponential lineage growth that would otherwise blow
up the Catalyst plan; convergence is detected by an aggregate signature
(sum of xxhash64 of sorted edges) instead of expensive DataFrame equality.
Every round runs under the session's own settings: the kernel sets no
session conf (in a shared session a set would race every concurrent
query), so AQE stays as `session.get_spark` configured it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Graphs at or below this edge count bypass the iterative kernel: a bounded
# limit(cap+1) count, an Arrow collect and driver min-label propagation
# answer in two jobs what the alternation answers in ~40 (each Kiveris
# round is several query stages, and per-job latency — not data —
# dominates small and mid-size graphs: measured 3.3 s for the 646-edge
# canonical_map merge graph and 6.9 s for the 165k-edge sf0.1 hierarchy
# vs ~1 s collected; round-6 re-measurement on a 1.65M-edge sf1-shaped
# hierarchy: distributed ~14 s warm vs ~4 s driver path). The cap is sized by DRIVER MEMORY, not
# by the crossover (which sits far higher): 4M edges ≈ 150 MB Arrow-
# serialized / under ~1 GB materialized in pandas — the same order as a
# large broadcast-join build side, and an order below the driver heap.
# Anything larger falls through to the distributed alternation unchanged,
# so the 100 TB path is untouched. Both paths produce identical rows
# (tests/test_components.py pins equality on the same graph).
DRIVER_CC_MAX_EDGES = int(os.environ.get("CORTEX_CC_DRIVER_MAX_EDGES", "4000000"))


def _neighborhoods(edges: DataFrame) -> DataFrame:
    """Initial (u, v) state: raw oriented edges, self-loops dropped.

    No up-front symmetrization and no distinct: _large_star derives the
    symmetric neighbor view from its input EVERY round anyway, so a
    pre-doubled initial state just made round 1 process 4x the raw edges
    (union of an already-doubled list with its own swap), and the initial
    distinct was a full shuffle whose duplicates would melt in round 1's
    single end-of-round dedup regardless (see _large_star on the
    one-dedup-per-round design). Same converged output, same round count —
    the per-round operators are min-aggregates, insensitive to duplicates
    and orientation."""
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star: neighborhoods over BOTH directions; connect every
    strictly-larger neighbor v of u to m = min(N(u) ∪ {u}).

    No intermediate distinct(): dedup is implicit in the groupBy-min, and
    duplicate (v, m) pairs in the output are semantically harmless — the
    round's single dedup happens once at the end of _small_star. Each
    eliminated distinct() is a whole shuffle stage, and round latency (not
    data volume) dominates this iterative kernel at every scale: the data
    strictly shrinks per round while stage count stays fixed."""
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv")).select("u", F.least("mv", "u").alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star: orient each edge high→low, connect all of u's
    ≤-neighbors (and u) to m = min of that set. Carries the round's ONE
    dedup (the final distinct) — see _large_star on why."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m <= all v <= u
    out = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _signature(edges: DataFrame) -> int:
    row = edges.select(
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("sig"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (int(row["sig"]), int(row["n"]))


def _driver_components_np(src, dst):
    """Vectorized driver-side components over two equal-length pandas/numpy
    id sequences: factorize ids to dense codes, then min-label propagation
    with pointer jumping (each round takes the min label across every edge
    in two vectorized scatters, then compresses labels twice) — O(E) numpy
    work per round, O(log n) rounds with the jumping. Returns a pandas
    DataFrame (node_id, component), component = min member id by the ids'
    own ordering — identical rows to a dict union-find (pinned by
    tests/test_components.py). ~2.4 s for 1.65M string edges where the
    dict union-find takes ~3.9 s, and no per-row Python loop."""
    import numpy as np
    import pandas as pd

    codes, uniques = pd.factorize(
        pd.concat([pd.Series(src), pd.Series(dst)], ignore_index=True)
    )
    n = len(uniques)
    u, v = codes[: len(src)], codes[len(src) :]
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, u, lab[v])
        np.minimum.at(new, v, lab[u])
        new = new[new]
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    # min label ≠ min id (factorize codes are appearance-ordered), so take
    # the true min id per label group and emit every node on an edge
    uq = pd.Series(uniques)
    comp_min = uq.groupby(lab).transform("min")
    return pd.DataFrame({"node_id": uq, "component": comp_min})


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Return (node_id, component) where component = min node id reachable.

    Input: any edge DataFrame with `src`/`dst` string columns. Isolated
    nodes (no edges) are not emitted — callers left-join and coalesce to
    the node's own id. Pass `stats={}` to get the converged round count
    back in stats["rounds"] (scale evidence: rounds grow O(log² n), so a
    super-linear blowup shows up here first).
    """
    spark = edges.sparkSession
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    cap = DRIVER_CC_MAX_EDGES
    if cap > 0:
        # small/mid-graph fast path: one bounded count decides. limit(cap+1)
        # keeps the probe bounded regardless of graph size; exactly cap+1
        # rows means "too big" and the distributed kernel below runs on the
        # full frame without anything collected. Only a graph that fits is
        # collected, over Arrow (toPandas) — at the cap that is ~40x
        # cheaper than row-pickling .collect().
        bounded = e0.filter(F.col("src") != F.col("dst")).limit(cap + 1)
        n = bounded.count()
        if n <= cap:
            if stats is not None:
                stats["rounds"] = 0
                stats["driver_path"] = True
            id_type = e0.schema[0].dataType
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [StructField("node_id", id_type), StructField("component", id_type)]
            )
            if n == 0:
                return spark.createDataFrame([], schema)
            head = bounded.toPandas()
            return spark.createDataFrame(
                _driver_components_np(head.iloc[:, 0], head.iloc[:, 1]), schema
            )
    cur = _neighborhoods(e0)
    cur = cur.localCheckpoint(eager=True)
    prev_sig = None
    rounds = 0
    for i in range(max_iterations):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        rounds = i + 1
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    # converged state: edges point each node at its component min. Emit the
    # roots as (v, v) self-rows and fold everything in ONE aggregation —
    # the old comp/roots/distinct/union/re-aggregate chain spent three
    # exchanges computing the same thing (guide §2.4).
    return (
        cur.select(F.col("u").alias("node_id"), F.col("v").alias("component"))
        .unionByName(cur.select(F.col("v").alias("node_id"), F.col("v").alias("component")))
        .groupBy("node_id")
        .agg(F.min("component").alias("component"))
    )
