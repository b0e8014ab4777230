"""Training-data ops: dedup families, ANN, text QC, LSH recall."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from cortex_spark.dataops.ann import ann_topk_bruteforce, ann_topk_lsh
from cortex_spark.dataops.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs_native,
)
from cortex_spark.dataops.textqc import text_quality_profile

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_planted(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different doc")], "doc_id long, text string"
    )
    got = exact_dedup(df).collect()
    by_canon = {r["canonical_id"]: r["n_dups"] for r in got}
    assert by_canon == {1: 2, 3: 1}  # normalization folds case+whitespace


def test_minhash_lsh_finds_planted_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    rows = [(0, base), (1, base.replace("green", "dark"))]  # near-dup pair
    rows += [(i, f"totally unrelated document number {i} with words " + " ".join(f"w{i}{j}" for j in range(15))) for i in range(2, 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["a_id"], r["b_id"]) for r in minhash_lsh_pairs(df).collect()}
    assert (0, 1) in pairs
    # unrelated docs must not flood in
    assert len(pairs) < 5


def test_ngram_jaccard_threshold(spark):
    base = "a b c d e f g h i j k l m n o p q r s t"
    df = spark.createDataFrame(
        [(0, base), (1, base + " u"), (2, "z y x w v different words entirely here now ok")],
        "doc_id long, text string",
    )
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.9
    assert not any(2 in p for p in got)


def test_simhash_near_pairs(spark):
    words = [f"tok{i}" for i in range(60)]
    base = " ".join(words)
    variant = " ".join(words[:-1] + ["tokX"])  # one token changed
    df = spark.createDataFrame(
        [(0, base), (1, variant), (2, " ".join(f"other{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_pairs_native(df, max_hamming=8).collect()
    }
    assert (0, 1) in got
    assert not any(2 in p for p in got)


def test_simhash_native_matches_python_reference(spark, docs):
    """The native md5 SimHash kernel reproduces a hand-rolled hashlib
    implementation bit-for-bit (fingerprint chunks AND near-pairs)."""
    import hashlib
    import re

    from cortex_spark.dataops.dedup import simhash_chunks_native, simhash_pairs_native

    sample = docs.limit(80).cache()

    def ref_chunks(text):
        toks = [t for t in re.split(r"\s+", (text or "").lower()) if t]
        if not toks:
            return None
        acc = [0] * 64
        for tok in toks:
            hx = hashlib.md5(f"11|{tok}".encode()).hexdigest()
            h_hi, h_lo = int(hx[:8], 16), int(hx[8:16], 16)
            for b in range(64):
                acc[b] += 1 if ((h_lo if b < 32 else h_hi) >> (b % 32)) & 1 else -1
        out = []
        for c in range(4):
            v = 0
            for j in range(16):
                if acc[16 * c + j] > 0:
                    v |= 1 << j
            out.append(v)
        return tuple(out)

    expected = {
        r["doc_id"]: ref_chunks(r["text"])
        for r in sample.select("doc_id", "text").collect()
        if ref_chunks(r["text"]) is not None
    }
    got = {
        r["doc_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in simhash_chunks_native(sample).collect()
    }
    assert got == expected

    fp = expected
    ids = sorted(fp)
    want_pairs = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if any(fp[a][c] == fp[b][c] for c in range(4)):
                ham = sum(bin(fp[a][c] ^ fp[b][c]).count("1") for c in range(4))
                if ham <= 16:
                    want_pairs[(a, b)] = ham
    got_pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_pairs_native(sample, max_hamming=16).collect()
    }
    assert got_pairs == want_pairs


def test_embedding_neardup_bruteforce_vs_lsh(spark):
    """The dedup scan finds a planted near-duplicate over exact candidates
    and over candidate_topk's."""
    from cortex_spark.canon.dedup import dedup_pairs
    from cortex_spark.linker.lsh import candidate_topk

    rng = np.random.default_rng(5)
    base = rng.standard_normal(32)
    rows = []
    for i in range(40):
        v = rng.standard_normal(32)
        rows.append((str(i), [float(x) for x in v / np.linalg.norm(v)]))
    # plant a near-dup of row 0
    eps = base / np.linalg.norm(base)
    v0 = np.array(rows[0][1])
    near = v0 + 0.05 * rng.standard_normal(32)
    rows.append(("100", [float(x) for x in near / np.linalg.norm(near)]))
    df = spark.createDataFrame(rows, "node_id string, embedding array<float>")
    exact = ann_topk_bruteforce(df, df, k=10, corpus_id="node_id", query_id="node_id").select(
        F.col("query_id").alias("a_id"), F.col("neighbor_id").alias("b_id"), "score"
    )
    bf = {(r["a_id"], r["b_id"]) for r in dedup_pairs(exact, 0.95).collect()}
    assert ("0", "100") in bf
    lsh = {(r["a_id"], r["b_id"]) for r in dedup_pairs(candidate_topk(df), 0.95).collect()}
    assert ("0", "100") in lsh


def test_ann_lsh_recall_vs_bruteforce(spark, embs):
    queries = embs.filter("vec_id < 5")
    exact = ann_topk_bruteforce(embs, queries, k=10)
    approx = ann_topk_lsh(embs, queries, k=10, n_planes=12, bands=6)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH ANN recall too low: {recall}"


def test_ann_ivf_recall_vs_bruteforce(spark, embs):
    from cortex_spark.dataops.ann import ann_topk_ivf, fit_ivf_centroids

    queries = embs.filter("vec_id < 5")
    exact = ann_topk_bruteforce(embs, queries, k=10)
    approx = ann_topk_ivf(embs, queries, k=10, n_centroids=16, nprobe=6)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF ANN recall too low: {recall}"
    # probing fewer lists than exist: every result is rank-consistent and
    # the quantizer is deterministic across fits
    c1 = fit_ivf_centroids(embs, n_centroids=16, seed=7)
    c2 = fit_ivf_centroids(embs, n_centroids=16, seed=7)
    assert (c1 == c2).all()


def test_ivf_sample_plan_has_no_shuffle_or_global_sort(spark, embs):
    """Quantizer fitting must never total-order the corpus: the sample
    query is a pushed hash-threshold filter + TakeOrderedAndProject over
    the ~2×cap survivors — no Exchange, no Sort operator in the plan."""
    from cortex_spark.dataops.ann import _ivf_sample

    n = embs.count()
    df = _ivf_sample(embs, "embedding", "vec_id", 64, seed=7, n=n)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    ops = [l for l in plan.splitlines() if l.strip().startswith(("+-", "*("))] or plan.splitlines()
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # no standalone Sort operator (TakeOrderedAndProject is a bounded heap)
    assert not any(re.search(r"\bSort\b", l) for l in ops if "TakeOrdered" not in l), plan
    # the survivor set is the expected ~2×cap slice and fitting stays
    # deterministic across partition layouts
    small = df.collect()
    re4 = _ivf_sample(embs.repartition(13), "embedding", "vec_id", 64, seed=7, n=n).collect()
    assert [r["i"] for r in small] == [r["i"] for r in re4]


def test_ann_bruteforce_topk_matches_numpy(spark, embs):
    rows = embs.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = 0
    qv = vecs[q]
    sims = sorted(
        ((np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v)), i) for i, v in vecs.items() if i != q),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    exp = [i for _, i in sims]
    got = [
        r["neighbor_id"]
        for r in ann_topk_bruteforce(embs, embs.filter("vec_id = 0"), k=5).orderBy("rank").collect()
    ]
    assert got == exp


def _true_pairs(d, threshold: float) -> set:
    """Unordered (node_id, node_id) pairs of a planted-cluster fixture with
    cosine ≥ threshold, from the exact top-8: a cluster has 8 members, so
    the cut never drops a true partner."""
    exact = ann_topk_bruteforce(d, d, k=8, corpus_id="node_id", query_id="node_id")
    return {
        tuple(sorted((r["query_id"], r["neighbor_id"])))
        for r in exact.filter(F.col("score") >= threshold).collect()
    }


def test_lsh_candidate_recall_planted_clusters(spark):
    """J1 recall: the per-node top-10 LSH candidates must catch ≥95% of
    true pairs ≥0.75 cosine.

    The driver's embeddings table has no pairs above 0.48 cosine (weak
    clusters), so recall is measured on planted clusters: 30 centers × 8
    members with controlled perturbation straddling the 0.75 threshold. A
    node has at most 7 true partners, so k=10 never cuts one off.
    """
    from cortex_spark.linker.lsh import candidate_topk

    rng = np.random.default_rng(17)
    rows = []
    rid = 0
    for c in range(30):
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for m in range(8):
            v = center + rng.uniform(0.2, 0.7) * rng.standard_normal(64) / 8.0
            v /= np.linalg.norm(v)
            rows.append((str(rid), [float(x) for x in v]))
            rid += 1
    d = spark.createDataFrame(rows, "node_id string, embedding array<float>").cache()
    cand = candidate_topk(d, k=10)
    t = _true_pairs(d, 0.75)
    c = {tuple(sorted((r["a_id"], r["b_id"]))) for r in cand.collect()}
    assert len(t) > 100, f"expected many true pairs, got {len(t)}"
    recall = len(t & c) / len(t)
    assert recall >= 0.95, f"LSH recall {recall} below 0.95 ({len(t)} true pairs)"


def test_band_signatures_match_numpy_reference(spark):
    """add_lsh_bands' signatures and candidate_topk's signature UDF
    (_sig_vec_udf's `sigs` field) both equal a per-row transliteration of
    the packing: for each band, the sign bits of (v − center)·plane read
    most significant first, band index at bit 32. Random vectors, a null
    row, origin-anchored and centered."""
    from cortex_spark.linker.lsh import _hyperplanes, _sig_vec_udf, add_lsh_bands

    dim, n_planes, bands, seed = 12, 15, 5, 7
    rows_per_band = n_planes // bands
    rng = np.random.default_rng(3)
    # float32-representable values: Spark stores array<float>
    vecs = {i: [float(np.float32(x)) for x in rng.standard_normal(dim)] for i in range(40)}
    df = spark.createDataFrame(
        list(vecs.items()) + [(99, None)], "id long, embedding array<float>"
    )
    planes = _hyperplanes(dim, n_planes, seed)

    def reference(v, center):
        if v is None:
            return None
        x = [a - (center[j] if center is not None else 0.0) for j, a in enumerate(v)]
        sigs = []
        for band in range(bands):
            sig = 0
            for r in range(rows_per_band):
                plane = planes[band * rows_per_band + r]
                sig = (sig << 1) | (1 if sum(p * a for p, a in zip(plane, x)) > 0 else 0)
            sigs.append(sig | (band << 32))
        return sigs

    for center in (None, [float(x) for x in 0.5 * rng.standard_normal(dim)]):
        want = {i: reference(v, center) for i, v in [*vecs.items(), (99, None)]}
        bands_df = add_lsh_bands(df, "embedding", dim, n_planes, bands, seed, center=center)
        got = {r["id"]: r["lsh_sigs"] for r in bands_df.select("id", "lsh_sigs").collect()}
        assert got == want
        sv = _sig_vec_udf(dim, n_planes, bands, seed, center=center)
        got_sv = {
            r["id"]: r["sigs"]
            for r in df.select("id", sv(F.col("embedding")).alias("sv")).select("id", "sv.sigs").collect()
        }
        assert got_sv == want


def test_text_quality_profile(spark, docs):
    prof = text_quality_profile(docs)
    row = prof.first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["quality"] <= 1.0
    assert prof.count() == docs.count()
    # fingerprint is deterministic
    p2 = text_quality_profile(docs)
    assert prof.select(F.sum(F.col("fingerprint").cast("decimal(38,0)"))).first()[0] == p2.select(
        F.sum(F.col("fingerprint").cast("decimal(38,0)"))
    ).first()[0]


def test_hot_bucket_skew_guard(spark):
    """North-rule skew handling: a planted hot key (hundreds of identical
    embeddings — the LSH analogue of a head domain) must NOT quadratically
    blow up the candidate join. The hot bucket is truncated at max_bucket
    deterministically, the job completes, and pairs among UNIQUE vectors
    are still found."""
    import numpy as np

    from cortex_spark.linker.lsh import candidate_topk

    rng = np.random.default_rng(11)
    hot = rng.standard_normal(16)
    hot /= np.linalg.norm(hot)
    rows = [(f"hot{i}", [float(x) for x in hot]) for i in range(300)]  # one hot key
    planted = rng.standard_normal(16)
    planted /= np.linalg.norm(planted)
    near = planted + 0.03 * rng.standard_normal(16)
    near /= np.linalg.norm(near)
    rows += [("p0", [float(x) for x in planted]), ("p1", [float(x) for x in near])]
    for i in range(40):
        v = rng.standard_normal(16)
        rows.append((f"u{i}", [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "node_id string, embedding array<float>")

    cap = 32
    topk = candidate_topk(df, k=5, max_bucket=cap)
    got = {(r["a_id"], r["b_id"], r["score"]) for r in topk.collect()}
    by_a = {}
    for a, b, _ in got:
        by_a.setdefault(a, []).append(b)
    # the planted near-dup among unique vectors survives the skew guard
    assert "p1" in by_a.get("p0", []) or "p0" in by_a.get("p1", [])
    # determinism: truncation is id-ordered, so reruns agree exactly
    got2 = {(r["a_id"], r["b_id"], r["score"]) for r in candidate_topk(df, k=5, max_bucket=cap).collect()}
    assert got2 == got


def test_candidate_topk_dense_ids_match_hash_ids(spark):
    """The dense (monotonically_increasing_id) surrogate strategy — the
    collision-free path auto-selected above DENSE_IDS_ABOVE rows — must
    produce the exact same (a_id, b_id, score) set as the default hash
    surrogates on a collision-free corpus."""
    import numpy as np

    from cortex_spark.linker.lsh import candidate_topk

    rng = np.random.default_rng(23)
    rows = []
    for i in range(120):
        v = rng.standard_normal(16)
        rows.append((f"n{i:03d}", [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "node_id string, embedding array<float>")

    hash_out = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in candidate_topk(df, k=5, id_strategy="hash").collect()
    }
    dense_out = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in candidate_topk(df, k=5, id_strategy="dense").collect()
    }
    assert len(hash_out) > 100
    assert set(dense_out) == set(hash_out)
    # scores agree to float32 GEMM tolerance (BLAS accumulation order shifts
    # with within-bucket row order, which the surrogate sort key changes)
    assert all(abs(dense_out[p] - hash_out[p]) < 1e-5 for p in hash_out)


def test_candidate_topk_survives_forced_hash_collisions(spark):
    """Regression for the ~10⁸-node surrogate-id ceiling: inject a mock hash
    that maps 120 node ids onto only 8 surrogate values (guaranteed
    collisions — the 10¹²-doc regime in miniature). The collision check must
    detect it and fall back to the dense mapping, producing edges identical
    to an honest run instead of silently merging nodes' neighbor lists."""
    import numpy as np
    from pyspark.sql import functions as F

    from cortex_spark.linker.lsh import candidate_topk

    rng = np.random.default_rng(29)
    rows = []
    for i in range(120):
        v = rng.standard_normal(16)
        rows.append((f"n{i:03d}", [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "node_id string, embedding array<float>")

    honest = {
        (r["a_id"], r["b_id"]): r["score"] for r in candidate_topk(df, k=5).collect()
    }
    colliding = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in candidate_topk(
            df, k=5, _hash_fn=lambda c: F.pmod(F.xxhash64(c), F.lit(8))
        ).collect()
    }
    assert set(colliding) == set(honest)
    assert all(abs(colliding[p] - honest[p]) < 1e-5 for p in honest)


def test_fit_ivf_centroids_skips_count_when_n_rows_given(spark, monkeypatch):
    """With n_rows passed, the quantizer fit must launch NO count job (the
    count only sizes the pmod sampling modulus). Patch DataFrame.count to
    raise — the fit must still succeed, and match the counted fit exactly."""
    import numpy as np
    from pyspark.sql import DataFrame

    from cortex_spark.dataops.ann import fit_ivf_centroids

    rng = np.random.default_rng(31)
    rows = [
        (f"v{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    C_counted = fit_ivf_centroids(df, n_centroids=4, seed=7)

    def _boom(self):
        raise AssertionError("DataFrame.count() must not run when n_rows is passed")

    monkeypatch.setattr(DataFrame, "count", _boom)
    C = fit_ivf_centroids(df, n_centroids=4, seed=7, n_rows=400)
    assert np.array_equal(C, C_counted)


def test_choose_lsh_params_model():
    """Self-tuning (rows, bands): historical formula below the clamp
    (bit-identical for every committed oracle/bench size), recall-held
    band-boost past it — the fix for the measured O(n²) regime where frozen
    rows let the mean bucket grow linearly with n (BASELINE.md §Round-4)."""
    from cortex_spark.linker.lsh import choose_lsh_params

    # historical regime: exact match with the frozen formula, bands fixed.
    # Extends past the old 512k engagement point up to ~1.02M: the 1M
    # interleaved A/B (BENCH_r05_lsh_ab.json) measured the frozen params
    # 1.22× cheaper at recall 0.962 ≥ the 0.95 target, so the boost now
    # waits until the frozen mean bucket n/2^rows_cap crosses max_bucket/2
    # (truncation-risk zone).
    for n in (100, 5_000, 21_000, 135_000, 500 * 2**10, 512_001, 10**6):
        rows, bands = choose_lsh_params(n)
        assert bands == 20
        assert rows == min(10, max(3, int(np.ceil(np.log2(max(n / 500, 1.0))))))

    p = 1 - np.arccos(0.75) / np.pi
    base_recall = 1 - (1 - p**10) ** 20
    prev_rows = 0
    for n in (1_100_000, 10**7, 10**8, 10**9, 10**12):
        rows, bands = choose_lsh_params(n)
        assert 10 < rows <= 30 and 20 < bands <= 320
        # recall at the design similarity never drops below the clamp point
        assert 1 - (1 - p**rows) ** bands >= base_recall - 1e-12
        # per-row GEMM cost beats the frozen formula (untruncated; the
        # frozen path's max_bucket truncation is the recall collapse this
        # replaces, not a fair cost baseline)
        assert bands * min(n / 2**rows, 2000) < 20 * (n / 2**10)
        assert rows >= prev_rows
        prev_rows = rows
    # no bucket truncation anywhere below ~2·10⁹ rows (the frozen formula
    # starts truncating EVERY bucket at ~2·10⁶)
    for n in (10**7, 10**8, 2 * 10**9):
        rows, _ = choose_lsh_params(n)
        assert n / 2**rows <= 2000


def test_candidate_topk_band_boost_recall(spark):
    """Integration: the boosted branch (rows past rows_cap, compensated
    bands) keeps ≥0.95 candidate recall on planted clusters. rows_cap=3 +
    small target_bucket force the boost at test size (240 rows → rows=6,
    bands=44-ish) — same code path a 10⁸-row corpus takes."""
    from cortex_spark.linker.lsh import candidate_topk, choose_lsh_params

    # max_bucket=48 puts the frozen mean bucket (240/2^3 = 30) past the
    # engagement threshold max_bucket/2 = 24 so the boost turns on at test n
    rows_sel, bands_sel = choose_lsh_params(240, target_bucket=4, rows_cap=3, max_bucket=48)
    assert rows_sel > 3 and bands_sel > 20  # sanity: boost engaged

    rng = np.random.default_rng(23)
    data = []
    rid = 0
    for c in range(30):
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for m in range(8):
            v = center + rng.uniform(0.2, 0.7) * rng.standard_normal(64) / 8.0
            v /= np.linalg.norm(v)
            data.append((str(rid), [float(x) for x in v]))
            rid += 1
    d = spark.createDataFrame(data, "node_id string, embedding array<float>").cache()
    truth = _true_pairs(d, 0.75)
    got = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in candidate_topk(d, k=10, target_bucket=4, rows_cap=3, n_rows=240, max_bucket=48)
        .filter("score >= 0.75").collect()
    }
    assert len(truth) > 100
    recall = len(truth & got) / len(truth)
    assert recall >= 0.95, f"band-boost recall {recall} below 0.95 ({len(truth)} true pairs)"
