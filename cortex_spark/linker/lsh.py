"""Distributed similarity-candidate generation (the ANN join, J1).

The reference does per-node HNSW top-k (auto_linker.rs:215-243, HNSW
vector/index.rs:325-373). HNSW is a single-machine in-RAM structure; the
Spark-native equivalent is random-hyperplane LSH:

    sign-bits of R·v  →  banded signatures  →  self-equi-join on
    (band, signature)  →  exact cosine rescoring (native expr)

Recall/precision is tunable via (n_planes, bands): bands·rows = n_planes;
P(pair shares ≥1 band) = 1-(1-s^rows)^bands where s = 1-θ/π for cosine
angle θ. Defaults: 60 planes, 20 bands × 3 rows (DEFAULT_PLANES /
DEFAULT_BANDS); `candidate_topk` adapts (rows, bands) to the corpus size
unless n_planes is given (`choose_lsh_params`).

Scale notes (100 TB): hot buckets are truncated to their first
`max_bucket` rows in surrogate-id order (`candidate_topk`); no counter
records the truncation. AQE skew-join splits the rest. Signature
computation is one numpy matmul per Arrow batch (`band_signer`).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


# 20 bands × 3 rows: high recall across the whole similarity range the rule
# engine consumes (≥0.93 even for near-orthogonal pairs at this scale), with
# 8 signatures per band so buckets stay GEMM-sized. At 10^9-node scale grow
# rows ≈ log2(n)/10 (finer buckets) and lean on max_bucket + AQE for skew.
DEFAULT_PLANES = 60
DEFAULT_BANDS = 20
DEFAULT_SEED = 7
DEFAULT_MAX_BUCKET = 2000

# Above this row count candidate_topk's 64-bit hash surrogates leave the
# birthday-safe regime (expected colliding pairs ≈ n²/2^65 ≈ 0.07 at 5·10⁷)
# and the auto strategy switches to a collision-free dense id mapping.
DENSE_IDS_ABOVE = 50_000_000
# Below this the final surrogate→string map-back joins are broadcast; above,
# a broadcast of the full id map would blow the driver — let AQE pick the
# join strategy for the shuffle join instead.
IDMAP_BROADCAST_MAX = 10_000_000


def choose_lsh_params(
    n: int,
    target_bucket: int = 500,
    base_bands: int = DEFAULT_BANDS,
    rows_cap: int = 10,
    design_sim: float = 0.75,
    max_bands: int = 320,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> tuple[int, int]:
    """(rows_per_band, bands) for a corpus of n rows — candidate_topk's
    self-tuning, kept pure so the cost/recall model is unit-testable.

    Small/medium corpora (n ≤ target_bucket·2^rows_cap): the historical
    formula — rows = ceil(log2(n/target_bucket)) clamped to [3, rows_cap],
    bands = base_bands. Bit-identical for every committed oracle, bench,
    and guardrail size.

    Past the clamp the historical formula froze rows, so the mean bucket
    grew linearly with n: per-row GEMM cost ∝ bucket ⇒ O(n²) total wall
    (the frozen-params 256k A/B leg ran ~1.5× the 64k leg's per-node link
    cost, host-confounded — BASELINE.md §Round-4; the growth is linear in
    n by construction), and once buckets cross max_bucket the hot-bucket
    cap truncates EVERY bucket — silent recall collapse in the 10⁹-row
    regime. Instead hold the bucket at ~target_bucket by taking more rows
    per band, and hold the band-union recall at its clamp-point value by
    growing the band count: recall(s) = 1-(1-p(s)^r)^b with
    p(s) = 1-arccos(s)/π (random-hyperplane collision probability), so the
    exact compensating band count is b(r) = ⌈ln(1-R)/ln(1-p^r)⌉ for the
    clamp-point recall R at design_sim. Compute becomes
    O(n·b(n)·target_bucket) ≈ O(n^1.38) — no quadratic cliff and no
    truncation regime. Bands are budget-capped at max_bands (shuffle
    volume ∝ bands); past THAT (n ≳ 10⁹ at the defaults) rows stop growing
    and max_bucket bounds compute linearly. No index in this package
    covers that regime: `dataops.ann.ann_topk_ivf` puts IVF cells through
    the same `probe_topk` join, but fits its quantizer per call and
    persists nothing.

    Engagement point (round-5, measured): the boost only turns on when the
    frozen mean bucket n/2^rows_cap crosses max_bucket/2 — the zone where
    cap truncation starts eating recall. Below that the frozen params are
    strictly cheaper at equal-or-sufficient recall: the interleaved 1M-row
    A/B (BENCH_r05_lsh_ab.json; T-F-F-T, min-of-two per arm, bounding
    probes within 17%) measured frozen (10, 20) at 980 s / 22.1 GB shuffle /
    0.962 planted recall vs tuned (11, 27) at 1197 s / 28.2 GB / 0.978 —
    a 1.22× wall and 1.27× shuffle premium for +1.5 pp recall that the
    ≥0.95 design target doesn't need yet. At the defaults the crossover is
    n ≈ max_bucket/2 · 2^rows_cap ≈ 1.02M rows; the committed 512k-page leg
    (n = 1.08M → (12, 35), BENCH_r05_scale.json) sits past it and keeps its
    signature bit-identical under this rule.
    """
    rows_raw = int(np.ceil(np.log2(max(n / target_bucket, 1.0))))
    if rows_raw <= rows_cap or n / 2.0**rows_cap <= max_bucket / 2.0:
        return min(rows_cap, max(3, rows_raw)), base_bands
    p = 1.0 - float(np.arccos(design_sim)) / np.pi
    recall_base = 1.0 - (1.0 - p**rows_cap) ** base_bands
    rows, bands = rows_cap, base_bands
    # 30-row ceiling keeps the packed signature's bits clear of the band id
    # at bit 32 (band_signer packing)
    for r in range(rows_cap + 1, min(rows_raw, 30) + 1):
        b = int(np.ceil(np.log(1.0 - recall_base) / np.log(1.0 - p**r)))
        if b > max_bands:
            break
        rows, bands = r, b
    return rows, bands


# Per-partition working-set target for candidate_topk's two mapInArrow
# stages. The GEMM stage buffers its packed top-k output (n·bands·(16+k·12)
# bytes across the stage) and the merge stage flattens its input triplets
# (n·bands·k·20 bytes, ×~3 for the two lexsorts) in numpy before yielding —
# with a core-count-sized partition count those buffers grow ∝ corpus (the
# 512k staged leg measured 78 GB tree RSS in the cands stage vs ≤15 GB in
# every other stage, BASELINE.md §Round-5). Sizing the repartitions by
# ESTIMATED OUTPUT BYTES caps task memory at any corpus size; results are
# partition-count-independent (cross-parallelism bit-identical signature,
# BENCH_r04_scale.json), re-checked by tests/test_lsh_partition_sizing.py.
TARGET_PARTITION_BYTES = 256 << 20


def sized_partitions(
    n: int, bands: int, k: int, base: int, target: int | None = None
) -> tuple[int, int]:
    """(gemm_parts, merge_parts): never below `base` (the session's
    shuffle.partitions — keeps small/test workloads unchanged), capped at
    65536 (the 10^12-doc regime; past that raise the target, not the
    count)."""
    t = target or TARGET_PARTITION_BYTES
    gemm_out = n * bands * (16 + k * 12)  # packed rows
    merge_in = n * bands * k * 20 * 3  # flattened triplets × sort copies
    gemm = max(base, min(65536, -(-gemm_out // t)))
    merge = max(base, min(65536, -(-merge_in // t)))
    return int(gemm), int(merge)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    h = hashlib.blake2b(f"lsh:{dim}:{n_planes}:{seed}".encode(), digest_size=8).digest()
    rng = np.random.default_rng(int.from_bytes(h, "big"))
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def band_signer(
    dim: int,
    n_planes: int = DEFAULT_PLANES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    center=None,
):
    """The one LSH band signer: returns a numpy function mapping an (n, dim)
    float64 batch to its (n, bands) int64 packed band signatures — one GEMM
    against the seeded hyperplanes, then each band's `n_planes // bands`
    sign bits packed most-significant-first, with the band index at bit 32
    so a single `(sig)` join key suffices after explode.

    `center` (optional, length dim): subtracted before the sign
    computation, i.e. the hyperplanes pass through the data centroid
    instead of the origin. Real transformer encoders are ANISOTROPIC (mean
    pairwise cosine ≈ 0.7 measured on the in-repo mini-transformer — the
    same shell concentration bge/MiniLM-class models show): origin-anchored
    sign bits then correlate across the corpus, hot buckets blow through
    max_bucket and the cap silently truncates recall. Centering restores
    the isotropic bucket model (measured: max bucket 1859→485, mean exactly
    n/2^rows, capped recall 0.96→0.9997 at n=2k — tests/
    test_transformer_geometry.py pins this). Candidates are still rescored
    with EXACT cosine on the raw vectors, so centering only changes which
    pairs become candidates, per the centered-angle collision model.
    Default None keeps every committed oracle/golden bit-identical; pass a
    centroid (or candidate_topk(center="auto")) for real-encoder corpora.
    """
    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes, seed)
    mu = None if center is None else np.asarray(center, dtype=np.float64)
    weights = (1 << np.arange(rows - 1, -1, -1)).astype(np.int64)
    band_ids = np.arange(bands, dtype=np.int64) << 32

    def sign(X: np.ndarray) -> np.ndarray:
        Xc = X - mu if mu is not None else X
        bits = (Xc @ planes.T) > 0  # (n, n_planes)
        return (bits.reshape(len(X), bands, rows).astype(np.int64) @ weights) | band_ids

    return sign


def _present_rows(emb: pd.Series) -> tuple[np.ndarray, np.ndarray | None]:
    """(positions of the non-null rows, their vectors stacked float64) of
    one Arrow batch; (empty, None) when every row is null."""
    vals = emb.to_numpy()
    idx = np.flatnonzero(np.array([v is not None for v in vals], dtype=bool))
    if not len(idx):
        return idx, None
    return idx, np.stack([np.asarray(vals[i], dtype=np.float64) for i in idx])


def band_sig_udf(
    dim: int,
    n_planes: int = DEFAULT_PLANES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    center=None,
):
    """pandas UDF: embedding array<float> → array<long> of `band_signer`
    signatures (null for a null embedding)."""
    sign = band_signer(dim, n_planes, bands, seed, center)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(emb: pd.Series) -> pd.Series:
        out = np.full(len(emb), None, dtype=object)  # rows stay ragged-typed
        idx, X = _present_rows(emb)
        if X is not None:
            for i, s in zip(idx, sign(X)):
                out[i] = s
        return pd.Series(out)

    return _sig


def _sig_vec_udf(
    dim: int,
    n_planes: int = DEFAULT_PLANES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    center=None,
):
    """candidate_topk-internal variant of band_sig_udf: embedding →
    struct<sigs: array<long>, vb: binary> where vb is the float32 vector's
    raw little-endian bytes. The GEMM stage transports the vector as ONE
    binary blob per row instead of array<float>: Spark's Arrow writer/reader
    converts BinaryType with a memcpy but ArrayType element by element, and
    the vector rides the sig shuffle `bands` times — at 100k pages that
    per-element conversion (not BLAS) dominated the stage's task time.
    float64→float32 happens HERE with the same astype the GEMM kernel used
    on its Arrow input, so scores are bit-identical."""
    sign = band_signer(dim, n_planes, bands, seed, center)

    from pyspark.sql.types import BinaryType, StructField, StructType

    out_type = StructType(
        [
            StructField("sigs", ArrayType(LongType())),
            StructField("vb", BinaryType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _sig(emb: pd.Series) -> pd.DataFrame:
        sig_out = np.full(len(emb), None, dtype=object)
        vb_out = np.full(len(emb), None, dtype=object)
        idx, X = _present_rows(emb)
        if X is not None:
            X32 = np.ascontiguousarray(X.astype(np.float32))
            for j, (i, s) in enumerate(zip(idx, sign(X))):
                sig_out[i] = s
                vb_out[i] = X32[j].tobytes()
        return pd.DataFrame({"sigs": sig_out, "vb": vb_out})

    return _sig


def _bin_flat(arr, dtype):
    """Zero-copy (values, offsets-in-items) view of a pyarrow BinaryArray.

    Returns (flat, off) where `flat` is the value bytes in row order viewed
    as `dtype` and `off` (int64, len+1) indexes row boundaries in ITEMS.
    Falls back to a gather when the array is sliced/non-dense (never the
    case for Spark-built batches, but Arrow allows it)."""
    if arr.null_count:
        raise ValueError("unexpected null in packed binary column")
    itemsize = np.dtype(dtype).itemsize
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    lens = np.diff(off)
    if (lens % itemsize).any():
        raise ValueError("packed binary length not a multiple of item size")
    seg = data[off[0] : off[-1]]
    if int(off[-1] - off[0]) != int(lens.sum()):  # sliced with gaps: gather
        pos = np.repeat(off[:-1], lens) + _segmented_arange(lens)
        seg = data[pos]
    try:
        flat = seg.view(dtype)
    except ValueError:  # unaligned slice start — copy to align
        flat = np.ascontiguousarray(seg).view(dtype)
    return flat, (off - off[0]) // itemsize


def _segmented_arange(lens: np.ndarray) -> np.ndarray:
    total = int(lens.sum())
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    return np.arange(total) - np.repeat(starts, lens)


def infer_dim(nodes: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding length of the first non-null vector (one small job); 384
    when the column holds no vector."""
    first = nodes.select(F.size(vec_col).alias("d")).filter("d is not null").first()
    return int(first["d"]) if first else 384


def add_lsh_bands(
    nodes: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = DEFAULT_PLANES,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    center=None,
) -> DataFrame:
    if dim is None:
        dim = infer_dim(nodes, vec_col)
    sig = band_sig_udf(dim, n_planes, bands, seed, center=center)
    return nodes.withColumn("lsh_sigs", sig(F.col(vec_col)))


def corpus_centroid(nodes: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Exact per-dimension mean of the embedding column — the centroid for
    centered LSH signatures (see band_signer). One narrow posexplode+avg
    job over (vec) only; at 10⁹+ rows substitute a fixed-seed sample. The
    float sum is shuffle-order dependent in the last ulp, which moves a
    sign bit only for a vector lying within ~1e-12 of a hyperplane — and
    candidates are exact-rescored anyway."""
    rows = (
        nodes.select(F.posexplode(F.col(vec_col)).alias("p", "v"))
        .groupBy("p")
        .agg(F.avg("v").alias("c"))
        .orderBy("p")
        .collect()
    )
    return [float(r["c"]) for r in rows]


def candidate_topk(
    nodes: DataFrame,
    k: int = 100,
    id_col: str = "node_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    dim: int | None = None,
    target_bucket: int = 500,
    n_rows: int | None = None,
    id_strategy: str = "auto",
    rows_cap: int = 10,
    design_sim: float = 0.75,
    center=None,
    _hash_fn=None,
) -> DataFrame:
    """Per-node top-k neighbors via bucketed GEMM — the scale path for the
    ANN candidate join (J1) and the distributed analogue of per-node HNSW
    `search(embedding, k)` (auto_linker.rs:220-221).

    Physical strategy: explode band signatures → group rows per (band, sig)
    bucket → one numpy GEMM per bucket (Arrow `applyInPandas`, BLAS — ~100×
    faster than per-element interpreted `aggregate()` exprs) → emit each
    row's within-bucket top-k → global `max(score)` dedupe → per-node top-k
    window. Output: ORDERED pairs (a_id, b_id, score), both directions.

    Hot buckets are truncated at max_bucket (GEMM stays ≤ max_bucket² ops);
    AQE skew-join handles residual bucket skew.

    `center="auto"` computes the corpus centroid (one narrow job) and
    anchors the signature hyperplanes there — required for anisotropic
    real-encoder embeddings (see band_signer); pass a precomputed centroid
    to skip the job, or None (default) for the origin-anchored scheme every
    committed oracle pins.
    """
    if isinstance(center, str) and center == "auto":
        center = corpus_centroid(nodes, vec_col)
    if dim is None:
        dim = infer_dim(nodes, vec_col)
    n = n_rows
    if n_planes is None:
        # adaptive (rows, bands): mean bucket stays ~target_bucket rows
        # (GEMM-sized) at ANY corpus size, band count grows past the clamp
        # to hold recall — see choose_lsh_params for the cost/recall model.
        # callers that already know the row count pass n_rows to skip a job
        if n is None:
            n = nodes.count()
        rows, bands = choose_lsh_params(
            n, target_bucket, bands, rows_cap, design_sim, max_bucket=max_bucket
        )
        n_planes = rows * bands

    # Work on 64-bit surrogate ids so neighbor lists ride Arrow as
    # array<long>/array<double> built straight from numpy — ~100× cheaper per
    # element than array<struct> of python dicts; string ids join back at the
    # end. Two surrogate strategies, auto-selected on corpus size:
    #   hash  — nid = xxhash64(string id): zero extra jobs in the hot path,
    #           birthday-safe below DENSE_IDS_ABOVE rows. A one-pass ids-only
    #           collision check (countDistinct sid vs nid) guards the bound;
    #           any collision falls back to dense.
    #   dense — nid = monotonically_increasing_id() pinned by an eager
    #           localCheckpoint: unique per row BY CONSTRUCTION at any corpus
    #           size (the 10¹²-doc regime where every 64-bit hash collides).
    # `_hash_fn` is a test seam for forcing surrogate collisions.
    if id_strategy == "auto":
        id_strategy = "dense" if (n is not None and n > DENSE_IDS_ABOVE) else "hash"
    if id_strategy == "hash":
        hash_fn = _hash_fn or F.xxhash64
        id_map = nodes.select(
            F.col(id_col).alias("sid"), hash_fn(F.col(id_col)).alias("nid")
        ).localCheckpoint(eager=False)
        chk = id_map.agg(
            F.countDistinct("sid").alias("n_sid"), F.countDistinct("nid").alias("n_nid")
        ).first()
        if n is None:
            n = chk["n_sid"]
        if chk["n_nid"] < chk["n_sid"] or n > DENSE_IDS_ABOVE:
            id_strategy = "dense"  # collided (or past the birthday bound)
    sv = _sig_vec_udf(dim, n_planes, bands, seed, center=center)
    if id_strategy == "dense":
        base = (
            nodes.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("vec"))
            .withColumn("nid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)  # pins the ids: both consumers below
        )                                 # read the SAME materialized rows
        id_map = base.select("sid", "nid")
        if n is None:
            n = base.count()  # cheap: counts the checkpointed blocks
        sigs = base.withColumn("sv", sv(F.col("vec"))).select(
            "nid", F.col("sv.vb").alias("vb"), F.explode("sv.sigs").alias("sig")
        )
    else:
        sigs = nodes.withColumn("sv", sv(F.col(vec_col))).select(
            hash_fn(F.col(id_col)).alias("nid"),
            F.col("sv.vb").alias("vb"),
            F.explode("sv.sigs").alias("sig"),
        )
    sigs = sigs.filter(F.col("sig").isNotNull())

    def bucket_topk_partition(batches) -> "Iterator[pa.RecordBatch]":
        """One GEMM per bucket; emits ONE packed row per node (parallel
        neighbor/score arrays) — shuffle records stay O(nodes·bands).

        Arrow-native over sig-sorted partitions instead of
        groupBy.applyInPandas: the actual BLAS here is ~2 s of the stage's
        ~16 s — the rest was per-group pandas assembly plus one np.asarray
        per row for the vector column. The vector matrix reshapes zero-copy
        from the binary blob column (_bin_flat on `vb`), and the packed
        top-k output builds as binary arrays from flat numpy buffers +
        offsets, never a Python list of arrays.

        float32 GEMM: embeddings are float32 already; halving the matrix
        bytes matters because this VM's aggregate memory bandwidth DROPS
        with thread count (BASELINE.md round-2 probes) — sgemm is
        deterministic single-threaded, scores stay stable across runs."""
        import pyarrow as pa

        sig_parts, nid_parts, vec_parts = [], [], []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            vb = rb.column(rb.schema.get_field_index("vb"))
            flat, off = _bin_flat(vb, np.float32)
            lens = np.diff(off)
            if len(lens) and not (lens == dim).all():
                raise ValueError("embedding length != declared dim")
            sig_parts.append(rb.column(rb.schema.get_field_index("sig")).to_numpy())
            nid_parts.append(rb.column(rb.schema.get_field_index("nid")).to_numpy())
            vec_parts.append(flat.reshape(-1, dim))
        if not sig_parts:
            return
        sig = np.concatenate(sig_parts) if len(sig_parts) > 1 else sig_parts[0]
        nid = np.concatenate(nid_parts) if len(nid_parts) > 1 else nid_parts[0]
        V = np.concatenate(vec_parts) if len(vec_parts) > 1 else vec_parts[0]
        # batches arrive sig-sorted per partition but BATCH boundaries can
        # split a bucket — re-sort the concatenated partition by (sig, nid).
        # The nid key makes within-bucket row order (and thus argpartition
        # tie-breaks on exactly-equal scores) independent of shuffle fetch
        # order — strictly more deterministic than the applyInPandas
        # predecessor, whose group order was arrival order.
        order = np.lexsort((nid, sig))
        sig, nid, V = sig[order], nid[order], V[order]
        starts = np.r_[0, np.flatnonzero(sig[1:] != sig[:-1]) + 1, len(sig)]

        out_a, out_b, out_s, out_counts = [], [], [], []
        for gi in range(len(starts) - 1):
            lo, hi = starts[gi], starts[gi + 1]
            n = hi - lo
            if n < 2:
                continue
            ids, X = nid[lo:hi], V[lo:hi]
            if n > max_bucket:  # hot-bucket guard (deterministic truncation)
                # rows are already nid-sorted within the bucket
                ids, X = ids[:max_bucket], X[:max_bucket]
                n = max_bucket
            norms = np.linalg.norm(X, axis=1)
            norms[norms == 0] = 1.0
            Xn = X / norms[:, None]
            S = Xn @ Xn.T
            np.fill_diagonal(S, -np.inf)
            kk = min(k, n - 1)
            if kk < n - 1:
                top_idx = np.argpartition(-S, kk, axis=1)[:, :kk]
            else:
                top_idx = np.argsort(-S, axis=1)[:, :kk]
            out_a.append(ids)
            out_b.append(ids[top_idx].ravel())
            out_s.append(np.take_along_axis(S, top_idx, axis=1).ravel())
            out_counts.append(np.full(n, kk, dtype=np.int64))
        if not out_a:
            return
        a_flat = np.concatenate(out_a)
        counts = np.concatenate(out_counts)
        total = int(counts.sum())
        if total * 8 >= 2**31:  # binary offsets are int32 BYTES — fail loud
            raise ValueError(
                f"partition emits {total} neighbor entries (≥ 2^31 bytes "
                "packed); raise spark.sql.shuffle.partitions so "
                "per-partition output fits int32 binary offsets"
            )
        # neighbor ids / scores ship as raw-byte blobs (one binary cell per
        # node×band row): Spark converts BinaryType with a memcpy where
        # ArrayType pays per-element conversion on BOTH sides of the widest
        # shuffle in the job; numpy decodes the bytes zero-copy (_bin_flat)
        bs_off = np.r_[0, np.cumsum(counts * 8)].astype(np.int32)
        ss_off = np.r_[0, np.cumsum(counts * 4)].astype(np.int32)
        bs_arr = pa.Array.from_buffers(
            pa.binary(), len(counts),
            [None, pa.py_buffer(bs_off), pa.py_buffer(np.concatenate(out_b))])
        ss_arr = pa.Array.from_buffers(
            pa.binary(), len(counts),
            [None, pa.py_buffer(ss_off),
             pa.py_buffer(np.concatenate(out_s).astype(np.float32, copy=False))])
        yield pa.RecordBatch.from_arrays(
            [pa.array(a_flat), bs_arr, ss_arr], names=["a_id", "bs", "ss"])

    base_parts = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts0, n_parts_merge = sized_partitions(n or 0, bands, k, base_parts)
    # no sortWithinPartitions: the kernel concatenates the whole partition and
    # lexsorts (sig, nid) in numpy anyway (int64 keys — radix-fast), so a JVM
    # UnsafeExternalSorter pass over the widest shuffle in the job (vec rides
    # every band row) was pure duplicate work; dropping it removed ~15% of the
    # stage's task time and, because the sort was memory-bandwidth-bound, most
    # of its concurrency inflation (2→8-core scaling leg, BASELINE.md §Round-5)
    per_bucket = (
        sigs.repartition(n_parts0, "sig")
        .mapInArrow(bucket_topk_partition, schema="a_id long, bs binary, ss binary")
    )

    def merge_topk(batches) -> "Iterator[pa.RecordBatch]":
        """Per-node merge: max score per neighbor, then per-node top-k by
        (−score, neighbor id).

        Round-6 shape: ONE stable argsort over the PACKED rows (one row per
        (node, band) — `bands` times fewer elements than the flat triplet
        array), an O(N) gather that lays the flat neighbor/score arrays out
        node-contiguously, then small per-segment sorts (~bands·k elements)
        per node. The previous whole-partition lexsorts ordered the full
        flat array twice (2- and 3-key mergesorts over n/P·bands·k random
        int64s — measured 24 s for a 13M-entry partition at the 100k-page
        scale point, the merge stage's dominant cost); segment sorts do the
        same work cache-resident in ~1/10 the time, and the per-node Python
        loop is bounded by nodes/partition (sized_partitions keeps segments
        at bands·k ≈ a few thousand elements at any corpus size).

        Selection and emitted row order are identical to the previous
        global formulation: nodes ascend by surrogate id, neighbors by
        (-score, id), max-per-(a,b) before ranking.

        Requires all rows of an a_id in one partition — guaranteed by the
        repartition(a_id) below. Arrow list columns flatten zero-copy.
        """
        import pyarrow as pa

        row_a, row_lens, b_parts, s_parts = [], [], [], []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            a_col, bs_col, ss_col = rb.column(0), rb.column(1), rb.column(2)
            bflat, boff = _bin_flat(bs_col, np.int64)
            sflat, soff = _bin_flat(ss_col, np.float32)
            if boff[-1] != soff[-1]:
                raise ValueError("packed neighbor/score blobs disagree on count")
            row_a.append(a_col.to_numpy())
            row_lens.append(np.diff(boff))
            b_parts.append(bflat)
            s_parts.append(sflat)
        if not row_a:
            return
        ra = np.concatenate(row_a) if len(row_a) > 1 else row_a[0]
        lens = np.concatenate(row_lens) if len(row_lens) > 1 else row_lens[0]
        bs = np.concatenate(b_parts) if len(b_parts) > 1 else b_parts[0]
        ss = np.concatenate(s_parts) if len(s_parts) > 1 else s_parts[0]
        # order packed rows by node id; gather the flat arrays to match
        order = np.argsort(ra, kind="stable")
        ra_s, lens_s = ra[order], lens[order]
        starts = np.r_[0, np.cumsum(lens)]
        total = int(starts[-1])
        new_starts = np.r_[0, np.cumsum(lens_s)]
        gather = np.repeat(starts[order] - new_starts[:-1], lens_s) + np.arange(total)
        bs, ss = bs[gather], ss[gather]
        # per-node segments in the flat arrays
        row_node_first = np.flatnonzero(np.r_[True, ra_s[1:] != ra_s[:-1]])
        seg_starts = new_starts[row_node_first]
        seg_ends = np.r_[seg_starts[1:], total]
        node_ids = ra_s[row_node_first]

        out_a, out_b, out_s = [], [], []
        for ni in range(len(node_ids)):
            sb = bs[seg_starts[ni] : seg_ends[ni]]
            sv = ss[seg_starts[ni] : seg_ends[ni]]
            o = np.argsort(sb, kind="stable")  # group duplicates of each b
            sb, sv = sb[o], sv[o]
            f0 = np.flatnonzero(np.r_[True, sb[1:] != sb[:-1]])
            sv = np.maximum.reduceat(sv, f0)  # max score per neighbor
            sb = sb[f0]
            o2 = np.lexsort((sb, -sv))  # (-score, neighbor id)
            if len(o2) > k:
                o2 = o2[:k]
            out_a.append(np.full(len(o2), node_ids[ni]))
            out_b.append(sb[o2])
            out_s.append(sv[o2])
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(out_a)), pa.array(np.concatenate(out_b)),
             pa.array(np.concatenate(out_s).astype(np.float64))],
            names=["a_id", "b_id", "score"],
        )

    merged = per_bucket.repartition(n_parts_merge, "a_id").mapInArrow(
        merge_topk, schema="a_id long, b_id long, score double"
    )
    a_map = id_map.select(F.col("nid").alias("a_id"), F.col("sid").alias("a_sid"))
    b_map = id_map.select(F.col("nid").alias("b_id"), F.col("sid").alias("b_sid"))
    # map-back joins: broadcast only while the id map actually fits the
    # driver; past IDMAP_BROADCAST_MAX rows let AQE plan the shuffle join
    maybe_b = F.broadcast if n <= IDMAP_BROADCAST_MAX else (lambda df: df)
    return (
        merged.join(maybe_b(a_map), "a_id")
        .join(maybe_b(b_map), "b_id")
        .select(F.col("a_sid").alias("a_id"), F.col("b_sid").alias("b_id"), "score")
    )
