"""Persisted LSH signature index, and the one LSH query-vs-corpus join.

Round-1 `run_cycle` recomputed LSH signatures over the ENTIRE live node
table every cycle — at corpus scale that defeats the cursor: the whole
point of incremental processing is that cycle cost tracks the fresh-node
count, not the corpus. The reference keeps a persistent HNSW index and
only *inserts* new vectors per cycle (vector/index.rs:298-314,
auto_linker.rs:378-398); this module is the distributed analogue:

- the index is a parquet/Iceberg table of exploded (sig, node_id, embedding)
  rows, partitioned by the hash of `sig` (bucketed join key),
- `append(fresh)` computes signatures for the FRESH nodes only and appends,
- `probe(fresh, k)` computes and materializes the fresh side's signatures
  once, then makes one pass over the stored index: one partition-pruned
  scan, one per-sig cap, one per-stored-node aggregate and one exact
  rescore — a shuffle proportional to the probed buckets, never a corpus
  re-bucketing.

That pass is `probe_topk`, the package's only bucketed query-vs-corpus
join, for LSH and IVF alike: a `sig` is whatever filter key puts a corpus
row in a bucket, an LSH band signature or an IVF cell. Its stored side is
any frame of (b_id, b_vec, sig, b_seq) rows: `probe` feeds it the pruned
index scan (hot buckets capped), `dataops.ann.ann_topk_lsh` a corpus's
signature rows computed in memory (`signature_rows`, the rows `append`
writes, all at b_seq 0; uncapped), and `dataops.ann.ann_topk_ivf` each
corpus row at its top-1 cell (uncapped). Its query side is a `query_rows`
frame: `signed_queries` for LSH, the queries' `nprobe` cells for IVF.

Index staleness semantics match the reference: deleted nodes are filtered
at probe time via the caller's live-node set (HNSW likewise keeps stale
entries until rebuild, vector/index.rs:182-211). UPDATED nodes are handled
by version sequencing: every append stamps its rows with a monotonically
increasing `append_seq`; probe deterministically scores each candidate
against the NEWEST version visible in the probed buckets, and `compact()`
(the HNSW-rebuild analogue) rewrites the index dropping all superseded
versions, after which only current vectors can match at all.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cortex_spark.functions.similarity import cosine_from_norms, l2_norm_col, top_k_by_score
from cortex_spark.io import parquet_file_rows, publish_parquet, write_json_atomic
from cortex_spark.linker import lsh

# Signature rows are written partitionBy("bucket") with
# bucket = pmod(xxhash64(sig), N_BUCKET_PARTS): a probe collects its (≤
# N_BUCKET_PARTS) distinct bucket values driver-side and filters the scan,
# so Spark partition-prunes the index read to the probed buckets — the scan
# cost tracks the query's signature footprint, not the index size.
N_BUCKET_PARTS = 64


def signature_rows(
    nodes: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int, bands: int,
    seed: int, center=None,
) -> DataFrame:
    """(node_id, vec, sig): one row per non-null band signature of each
    node — the stored side's rows, before `append` stamps them."""
    with_sigs = lsh.add_lsh_bands(nodes, vec_col, dim, n_planes, bands, seed, center=center)
    return with_sigs.select(
        F.col(id_col).alias("node_id"),
        F.col(vec_col).alias("vec"),
        F.explode("lsh_sigs").alias("sig"),
    ).filter(F.col("sig").isNotNull())


def query_rows(queries: DataFrame, id_col: str, vec_col: str, sigs: Column) -> DataFrame:
    """`probe_topk`'s query side, materialized once: one row per query with
    its vector, norm and the bucket keys `sigs` gives it (a_id, a_vec,
    a_norm, lsh_sigs) — the only Arrow UDF a probe runs."""
    return queries.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"),
        l2_norm_col(F.col(vec_col)).alias("a_norm"), sigs.alias("lsh_sigs"),
    ).localCheckpoint(eager=True)


def signed_queries(
    queries: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int, bands: int,
    seed: int, center=None,
) -> DataFrame:
    """The LSH query side: `query_rows` keyed by the band signatures."""
    signed = lsh.add_lsh_bands(queries, vec_col, dim, n_planes, bands, seed, center=center)
    return query_rows(signed, id_col, vec_col, F.col("lsh_sigs"))


def _query_sigs(qn: DataFrame) -> DataFrame:
    return qn.select("a_id", F.explode("lsh_sigs").alias("sig")).filter(F.col("sig").isNotNull())


def probe_topk(
    stored: DataFrame, qn: DataFrame, k: int, *, max_bucket: int | None, rank_col: str | None = None,
) -> DataFrame:
    """(a_id, b_id, score[, rank_col]): the top-k stored neighbors of each
    `query_rows` row among the `stored` (b_id, b_vec, sig, b_seq) rows
    sharing at least one bucket key (band signature or cell) with it.

    Each sig's hot bucket keeps at most `max_bucket` rows (None: all),
    newest versions (max b_seq) and lowest ids first (the quadratic-blowup
    guard candidate_topk also applies); a query never meets its own id; one
    aggregate per stored node resolves its NEWEST vector, its norm and the
    queries it met; scores are exact cosine."""
    q = _query_sigs(qn)
    # touch only probed buckets
    probe_sigs = q.select("sig").distinct()
    idx_hit = stored.join(F.broadcast(probe_sigs), "sig")
    if max_bucket is not None:
        # newest versions and lowest ids first (deterministic truncation)
        w_cap = Window.partitionBy("sig").orderBy(F.desc("b_seq"), F.asc("b_id"))
        idx_hit = (
            idx_hit.withColumn("rn", F.row_number().over(w_cap))
            .filter(F.col("rn") <= max_bucket)
            .drop("rn")
        )
    cands = idx_hit.join(q, "sig").filter(F.col("a_id") != F.col("b_id"))
    # newest VISIBLE version of each stored node wins for re-appended
    # (updated) nodes — resolved per b_id across all probed buckets, so
    # a candidate surfaced via a stale version's signature still scores
    # against the newest vector those buckets know (run compact() to
    # drop superseded versions entirely)
    latest_b = (
        cands.groupBy("b_id")
        .agg(
            F.max_by(F.col("b_vec"), F.col("b_seq")).alias("b_vec"),
            F.collect_set("a_id").alias("a_ids"),
        )
        .withColumn("b_norm", l2_norm_col(F.col("b_vec")))
    )
    pairs = latest_b.select("b_id", "b_vec", "b_norm", F.explode("a_ids").alias("a_id"))
    scored = pairs.join(qn, "a_id").select(
        "a_id", "b_id",
        cosine_from_norms(
            F.col("a_vec"), F.col("b_vec"), F.col("a_norm"), F.col("b_norm")
        ).alias("score"),
    )
    return top_k_by_score(scored, "a_id", "b_id", k, rank_col=rank_col)


class LshIndexStore:
    """Append-only signature index under `<path>/data` + a JSON meta file."""

    def __init__(
        self,
        path: str,
        spark: SparkSession,
        dim: int,
        n_planes: int = 16,
        bands: int = 8,
        seed: int = 7,
        center: list[float] | None = None,
    ) -> None:
        self.path = path
        self.spark = spark
        self.dim = dim
        self.n_planes = n_planes
        self.bands = bands
        self.seed = seed
        # optional signature centroid for anisotropic (real-encoder)
        # corpora — persisted with the params so every probe/append uses
        # the exact centroid the index was built with (see band_sig_udf)
        self.center = list(center) if center is not None else None
        self.data_dir = os.path.join(path, "data")
        self.meta_path = os.path.join(path, "_index_meta.json")

    @classmethod
    def open(cls, path: str, spark: SparkSession) -> "LshIndexStore":
        """Re-open an existing index from its persisted meta (dim + LSH
        params travel with the index so any consumer — CLI search, a later
        cycle — probes with the exact signature scheme it was built with)."""
        meta_path = os.path.join(path, "_index_meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        params = meta.get("params")
        if params is None:
            raise ValueError(f"index at {path} has no persisted params; pass them explicitly")
        return cls(
            path, spark, dim=params["dim"], n_planes=params["n_planes"],
            bands=params["bands"], seed=params["seed"],
            center=params.get("center"),
        )

    # -- bookkeeping ---------------------------------------------------------

    def meta(self) -> dict:
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                return json.load(f)
        return {"rows_indexed": 0, "appends": []}

    def _write_meta(self, meta: dict) -> None:
        write_json_atomic(self.meta_path, meta, indent=1)

    def exists(self) -> bool:
        return os.path.exists(self.data_dir)

    def append(self, fresh: DataFrame, id_col: str = "node_id", vec_col: str = "embedding") -> int:
        """Index the fresh nodes (signatures computed for THEM ONLY)."""
        # materialize once: the sig write and the count below would otherwise
        # each re-run the caller's upstream plan end-to-end
        fresh = fresh.localCheckpoint(eager=True)
        meta = self.meta()
        seq = len(meta.get("appends", []))
        sigs = (
            signature_rows(
                fresh, id_col, vec_col, self.dim, self.n_planes, self.bands, self.seed,
                self.center,
            )
            .withColumn("append_seq", F.lit(seq))
            .withColumn("bucket", F.pmod(F.xxhash64("sig"), F.lit(N_BUCKET_PARTS)))
        )
        sigs.write.mode("append").partitionBy("bucket").parquet(self.data_dir)
        n = int(fresh.count())
        meta["rows_indexed"] = meta.get("rows_indexed", 0) + n
        meta["appends"] = meta.get("appends", []) + [n]
        meta["params"] = {
            "dim": self.dim, "n_planes": self.n_planes, "bands": self.bands, "seed": self.seed,
            "center": self.center,
        }
        self._write_meta(meta)
        return n

    # -- probe -----------------------------------------------------------------

    def probe(
        self,
        queries: DataFrame,
        k: int = 10,
        id_col: str = "node_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """(a_id, b_id, score): top-k stored neighbors per query node.

        Signs the queries once (one cycle's fresh nodes or one search
        query; ids unique), scans the index once in the PROBED bucket
        partitions only and hands the scan to `probe_topk`, whose b_seq is
        the append_seq, hot buckets capped at DEFAULT_MAX_BUCKET. Callers
        semi-join b_id against their live set to drop tombstoned entries
        (HNSW-stale semantics)."""
        idx = self.spark.read.parquet(self.data_dir)
        qn = signed_queries(
            queries, id_col, vec_col, self.dim, self.n_planes, self.bands, self.seed,
            self.center,
        )
        # partition pruning: collect the probe's ≤ N_BUCKET_PARTS distinct
        # bucket values (a tiny query-side job) and filter the scan — the
        # index read touches only the probed bucket partitions
        bvals = [
            r["b"]
            for r in _query_sigs(qn).select(
                F.pmod(F.xxhash64("sig"), F.lit(N_BUCKET_PARTS)).alias("b")
            ).distinct().collect()
        ]
        idx = idx.filter(F.col("bucket").isin(bvals))
        idx = idx.select(
            F.col("node_id").alias("b_id"), F.col("vec").alias("b_vec"), "sig",
            F.col("append_seq").alias("b_seq"),
        )
        return probe_topk(idx, qn, k, max_bucket=lsh.DEFAULT_MAX_BUCKET)

    def compact(self) -> int:
        """Drop all superseded node versions (keep each node_id's rows at
        its max append_seq) — the maintenance analogue of an HNSW rebuild.
        Returns the number of surviving signature rows."""
        idx = self.spark.read.parquet(self.data_dir)
        latest = idx.groupBy("node_id").agg(F.max("append_seq").alias("append_seq"))
        publish_parquet(idx.join(latest, ["node_id", "append_seq"]), self.data_dir, ["bucket"])
        n = sum(e["rows"] for e in parquet_file_rows(self.data_dir))
        n_nodes = self.spark.read.parquet(self.data_dir).select("node_id").distinct().count()
        # refresh the corpus-size hint: after compaction rows_indexed counts
        # surviving distinct nodes, not the append history (hybrid.vector_search
        # reads this driver-side to pick brute-vs-index without a count job)
        meta = self.meta()
        meta["rows_indexed"] = n_nodes
        meta["compacted"] = True
        self._write_meta(meta)
        return n
