"""Dedup / text-analysis / ANN tests over deterministic fixtures and the
driver documents/embeddings tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geostatstransforms_jl_spark.functions.ann import (
    cosine_pairs_lsh,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from geostatstransforms_jl_spark.textops import (
    hamming_neardup_pairs,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_scores,
    simhash_64,
    simhash_pairs,
    token_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
        (3, "completely different text about spark query engines at scale"),
        (4, "der schnelle braune fuchs springt und der hund ist nicht da"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs)
    got = {r.doc_id: r.dup_count for r in out.collect()}
    assert got[0] == 2 and 1 not in got
    assert got[2] == 1 and got[3] == 1


def test_minhash_pipeline(spark, docs):
    sigs = minhash_signatures(docs, k=64, shingle=3)
    assert sigs.count() == 5
    pairs = minhash_lsh_pairs(sigs, bands=16, rows=4, threshold=0.5, max_bucket_size=None)
    got = {(r.a, r.b): r.est_jaccard for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got or (1, 2) in got  # near dup shares most shingles
    kept = minhash_dedup(docs, threshold=0.5, max_bucket_size=None)
    ids = {r.doc_id for r in kept.collect()}
    assert 0 in ids and 1 not in ids
    assert 3 in ids and 4 in ids


def test_simhash(spark, docs):
    sigs = simhash_64(docs)
    by_id = {r.doc_id: r.simhash for r in sigs.collect()}
    assert by_id[0] == by_id[1]  # identical text → identical signature
    pairs = simhash_pairs(sigs, max_hamming=16, max_bucket_size=None)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got


def test_simhash_banding_rejects_lossy_config(spark, docs):
    # 4 bands can only pigeonhole-guarantee Hamming ≤ 3 — asking for 10 with
    # 4 bands silently missed pairs before; now it refuses
    import pytest as _pt

    sigs = simhash_64(docs)
    with _pt.raises(AssertionError):
        simhash_pairs(sigs, max_hamming=10, bands=4, max_bucket_size=None)


def test_simhash_recall_vs_bruteforce(spark):
    """Differential oracle: banded simhash_pairs must find EXACTLY the pairs
    a brute-force Hamming scan finds (100% recall from the pigeonhole layout,
    100% precision from the post-join hamming filter) — on the real 500-doc
    testdata table, at two radii including one that needs uneven bands."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = simhash_64(docs).toPandas()
    ids = sigs["doc_id"].to_numpy()
    h = sigs["simhash"].to_numpy().astype(np.uint64)
    xor = h[:, None] ^ h[None, :]
    # vectorized popcount over the pair matrix: per-byte lookup table
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    v = xor.copy()
    ham = np.zeros(xor.shape, dtype=np.int64)
    for _ in range(8):
        ham += lut[(v & np.uint64(0xFF)).astype(np.int64)]
        v >>= np.uint64(8)
    iu, ju = np.triu_indices(len(ids), k=1)
    for max_h in (3, 10):
        want = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(iu[ham[iu, ju] <= max_h], ju[ham[iu, ju] <= max_h])
        }
        got_rows = simhash_pairs(
            spark.createDataFrame(sigs), max_hamming=max_h, max_bucket_size=None
        ).collect()
        got = {(r.a, r.b) for r in got_rows}
        assert got == want, f"max_hamming={max_h}: {len(got)} vs {len(want)}"


def test_ngram_jaccard_exact(spark, docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_df=None)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == pytest.approx(1.0)
    # doc2 differs in one word → 3 of 10 distinct 3-grams change
    assert (0, 2) in got and 0.5 < got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_ngram_stop_shingle_cap(spark):
    """Planted stop-shingle: 40 otherwise-unrelated docs all share one
    boilerplate phrase.  Uncapped, the inverted-index join meets all
    40·39/2 = 780 pairs through that one shingle group; with the DF cap the
    stop-shingles leave the universe, candidate volume collapses to the
    genuinely similar pairs, and those pairs' Jaccard over informative
    shingles is unchanged."""
    boiler = "click here to subscribe to our newsletter today"
    rows = [
        (i, f"unique document body number {i} alpha{i} beta{i} gamma{i} " + boiler)
        for i in range(40)
    ]
    # one genuine near-dup pair with informative overlap
    rows.append((100, "spark catalyst optimizer rewrites logical plans fast " + boiler))
    rows.append((101, "spark catalyst optimizer rewrites logical plans quickly " + boiler))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, n=3, threshold=0.05, max_shingle_df=10)
    got = {(r.a, r.b): r.jaccard for r in capped.collect()}
    # the boilerplate-only pairs are gone: bounded candidate volume
    assert (0, 1) not in got
    assert all(not (a < 100 and b < 100) for (a, b) in got), got
    # the real pair survives, with Jaccard over its informative shingles:
    # after dropping the 6 pure-boilerplate trigrams (df=42), each doc keeps
    # 7 trigrams (4 body-only shared + 3 touching the changed word) → 4/10
    assert (100, 101) in got
    assert got[(100, 101)] == pytest.approx(4 / 10)

    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.05, max_shingle_df=None)
    n_unc = uncapped.count()
    assert n_unc >= 780  # the explosion the cap exists to prevent

    # on a fixture with no hot shingles the cap is a no-op (oracle safety)
    small = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e g"), (2, "x y z w v u")],
        "doc_id long, text string",
    )
    with pytest.warns(RuntimeWarning, match="max_shingle_df=1000"):
        a = sorted(ngram_jaccard_pairs(small, n=3, threshold=0.1).collect())
    b = sorted(ngram_jaccard_pairs(small, n=3, threshold=0.1, max_shingle_df=None).collect())
    assert a == b


def test_lsh_bucket_cap(spark):
    """Planted boilerplate bucket: 30 identical docs concentrate all their
    band buckets; with a cap below 30 those buckets are skipped (their pairs
    are exact duplicates — upstream exact_dedup territory) while a distinct
    near-dup pair in small buckets is still found.  Cap above the group size
    reproduces the uncapped result exactly."""
    rows = [(i, "identical boilerplate legal disclaimer text repeated verbatim "
                "across every page of the crawl corpus") for i in range(30)]
    rows.append((100, "the quick brown fox jumps over the lazy dog again and again"))
    rows.append((101, "the quick brown fox jumps over the lazy cat again and again"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(df, k=64, shingle=3)
    capped = minhash_lsh_pairs(sigs, bands=16, rows=4, threshold=0.5, max_bucket_size=10)
    got = {(r.a, r.b) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, b in got), got  # boilerplate pairs suppressed

    uncapped = minhash_lsh_pairs(sigs, bands=16, rows=4, threshold=0.5, max_bucket_size=None)
    loose = minhash_lsh_pairs(sigs, bands=16, rows=4, threshold=0.5, max_bucket_size=100)
    assert sorted(map(tuple, loose.collect())) == sorted(map(tuple, uncapped.collect()))
    assert uncapped.count() == 30 * 29 // 2 + 1

    ssigs = simhash_64(df)
    scapped = simhash_pairs(ssigs, max_hamming=16, max_bucket_size=10)
    sgot = {(r.a, r.b) for r in scapped.collect()}
    assert (100, 101) in sgot
    assert all(a >= 100 for a, b in sgot), sgot
    sunc = simhash_pairs(ssigs, max_hamming=16, max_bucket_size=None)
    assert sunc.count() >= 30 * 29 // 2


def test_lang_id(spark, docs):
    out = lang_id(docs)
    got = {r.doc_id: r.lang_pred for r in out.collect()}
    assert got[0] == "en" and got[4] == "de"


def test_lang_id_on_driver_docs(spark):
    # driver documents are synthetic English-ish token soup regardless of
    # their `lang` label — the heuristic should classify them as English
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = lang_id(docs)
    n = out.count()
    en = out.filter(F.col("lang_pred") == "en").count()
    assert en / n > 0.9, f"en ratio {en/n}"


def test_token_and_quality(spark, docs):
    t = token_stats(docs)
    r0 = t.filter(F.col("doc_id") == 0).first()
    assert r0.n_tokens == 12
    assert r0.n_chars_engine == len("the quick brown fox jumps over the lazy dog again and again")
    q = quality_scores(docs)
    for r in q.collect():
        assert 0.0 <= r.quality <= 1.0
    r0 = q.filter(F.col("doc_id") == 0).first()
    assert r0.stop_ratio == pytest.approx(3 / 12)


def test_fingerprint_deterministic(spark, docs):
    a = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    b = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    assert a == b
    assert a[0] == a[1] and a[0] != a[3]


# ---------------- ANN ----------------


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cosine_topk_exact(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(q, emb, k=3)
    rows = out.collect()
    assert len(rows) == 15
    # verify against numpy
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(float)
    ids = pdf["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    for r in rows:
        qi = int(np.where(ids == r.q_id)[0][0])
        ci = int(np.where(ids == r.c_id)[0][0])
        assert sims[qi, ci] == pytest.approx(r.cosine, abs=1e-5)
    # top-1 matches numpy argmax (self excluded)
    for qid in range(5):
        qi = int(np.where(ids == qid)[0][0])
        s = sims[qi].copy()
        s[qi] = -np.inf
        best = ids[int(np.argmax(s))]
        got = [r.c_id for r in rows if r.q_id == qid and r.rank == 1][0]
        assert got == best


def _planted_queries(spark, emb, n=20, noise=0.05, seed=3):
    """Near-duplicate queries: corpus vectors + small noise.  Their true
    nearest neighbor is the source vector (cosine ≈ 1) — the ANN dedup
    use-case the scale path must get right."""
    pdf = emb.limit(n).toPandas()
    rng = np.random.default_rng(seed)
    rows = []
    for r in pdf.itertuples(index=False):
        v = np.asarray(r.embedding, dtype=np.float32)
        q = v + noise * rng.standard_normal(v.shape).astype(np.float32) * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((int(r.vec_id) + 100_000, q.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_topk_planted_recall(spark, emb):
    q = _planted_queries(spark, emb)
    approx = lsh_topk(q, emb, k=1, dim=64, n_tables=12, n_bits=8)
    got = {r.q_id - 100_000: r.c_id for r in approx.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for qid, cid in got.items() if qid == cid)
    assert hits >= 18, f"planted-neighbor recall {hits}/20"


def test_cosine_pairs_blocked_exact(spark, emb):
    """The hash-blocked GEMM all-pairs must equal a brute-force numpy scan —
    including across several blocks (force small blocks so the block-pair
    decomposition is actually exercised)."""
    from geostatstransforms_jl_spark.functions.ann import cosine_pairs

    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    iu, ju = np.triu_indices(len(ids), k=1)
    t = 0.45
    want = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(iu[sims[iu, ju] >= t], ju[sims[iu, ju] >= t])
    }
    out = cosine_pairs(emb, threshold=t, rows_per_block=64).collect()
    got = {(r.a, r.b) for r in out}
    assert got == want
    by_pair = {(r.a, r.b): r.cosine for r in out}
    for (i, j) in zip(iu, ju):
        key = (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        if key in by_pair:
            assert by_pair[key] == pytest.approx(sims[i, j], abs=1e-9)


def test_cosine_pairs_lsh_recall(spark, emb):
    """Approximate LSH pair gate: at a high threshold (true near-dups) the
    bucketed candidates must recover nearly all exact pairs, and everything
    it returns must be a true pair (exact verify step)."""
    from geostatstransforms_jl_spark.functions.ann import (
        cosine_pairs, cosine_pairs_lsh)

    t = 0.9
    exact = {(r.a, r.b) for r in cosine_pairs(emb, threshold=t).collect()}
    approx = {
        (r.a, r.b)
        for r in cosine_pairs_lsh(
            emb, threshold=t, dim=64, n_tables=12, n_bits=6
        ).collect()
    }
    assert approx <= exact  # precision 1.0 by construction
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall:.2f} over {len(exact)} pairs"


def test_ivf_topk_planted_recall(spark, emb):
    q = _planted_queries(spark, emb)
    approx = ivf_topk(q, emb, k=1, n_centroids=8, nprobe=3)
    got = {r.q_id - 100_000: r.c_id for r in approx.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for qid, cid in got.items() if qid == cid)
    assert hits >= 18, f"planted-neighbor recall {hits}/20"


def test_default_caps_warn_once(spark, docs):
    # ADVICE r3: the recall-reducing default caps must not be silent —
    # relying on the default emits a RuntimeWarning; an explicit value
    # (including None) is quiet
    import warnings

    sigs = minhash_signatures(docs)
    with pytest.warns(RuntimeWarning, match="max_bucket_size=1000"):
        minhash_lsh_pairs(sigs)
    with pytest.warns(RuntimeWarning, match="minhash_dedup"):
        minhash_dedup(docs)
    with pytest.warns(RuntimeWarning, match="max_shingle_df=1000"):
        ngram_jaccard_pairs(docs)
    with pytest.warns(RuntimeWarning, match="simhash_pairs"):
        simhash_pairs(simhash_64(docs))
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning would fail the test
        minhash_lsh_pairs(sigs, max_bucket_size=1000)
        minhash_lsh_pairs(sigs, max_bucket_size=None)
        ngram_jaccard_pairs(docs, max_shingle_df=500)
        simhash_pairs(simhash_64(docs), max_bucket_size=None)


def test_exact_dedup_carry(spark):
    # carry: representative attributes ride the dedup aggregate (one scan,
    # no join back); values must match the min-id row's
    rows = [
        (1, "a b", 10.0), (2, "A  b ", 20.0), (3, "c", 30.0), (4, "c", 40.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    got = {
        r.doc_id: (r.dup_count, r.score)
        for r in exact_dedup(df, carry=("score",)).collect()
    }
    assert got == {1: (2, 10.0), 3: (2, 30.0)}


def test_hamming_neardup_pairs_vs_brute_force(spark):
    # any 64-bit signature column (here a synthetic phash): banded pairs must
    # equal the O(n^2) brute force exactly (pigeonhole recall + exact filter)
    rng = np.random.default_rng(31)
    sigs = rng.integers(-(2**63), 2**63, 400, dtype=np.int64)
    # plant near-dups: 60 variants at hamming 1..3 of the first 60 sigs
    def flip(sig, mask):
        u = (int(sig) & 0xFFFFFFFFFFFFFFFF) ^ mask
        return u - (1 << 64) if u >= (1 << 63) else u

    planted = [
        (400 + i, flip(sigs[i], sum(1 << int(b) for b in rng.choice(64, size=1 + i % 3, replace=False))))
        for i in range(60)
    ]
    rows = [(i, int(s)) for i, s in enumerate(sigs)] + planted
    df = spark.createDataFrame(rows, "img_id long, phash long")

    got = {
        (r.a, r.b, r.hamming)
        for r in hamming_neardup_pairs(
            df, sig_col="phash", id_col="img_id", max_hamming=3, max_bucket_size=None
        ).collect()
    }

    arr = np.array([s for _, s in rows], dtype=np.int64).astype(np.uint64)
    ids = np.array([i for i, _ in rows])
    want = set()
    for i in range(len(arr)):
        d = np.array([bin(int(arr[i] ^ x)).count("1") for x in arr[i + 1:]])
        for j in np.flatnonzero(d <= 3):
            a, b = ids[i], ids[i + 1 + j]
            want.add((min(a, b), max(a, b), int(d[j])))
    assert len(want) >= 60
    assert got == want


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_banded_pair_collapse_stays_hash_aggregate(spark, docs, emb):
    # The pair-collapse in every banded candidate path must run on the
    # scored fixed-width (a, b, score) projection: a dropDuplicates BEFORE
    # scoring would carry the signature/vector payload through first()
    # aggregates, whose var-width buffers fall off hash aggregation into
    # SortAggregate (per-partition sort + payload-wide dedup shuffle — the
    # corpus-scale regression this pins).
    sigs = minhash_signatures(docs)
    plans = {
        "minhash": _plan(minhash_lsh_pairs(sigs, max_bucket_size=None)),
        "simhash": _plan(simhash_pairs(simhash_64(docs), max_bucket_size=None)),
        "lsh_pairs": _plan(cosine_pairs_lsh(emb, threshold=0.9, dim=64)),
        "lsh_topk": _plan(lsh_topk(emb.limit(5), emb, k=3, dim=64)),
        "ivf_topk": _plan(ivf_topk(emb.limit(5), emb, k=3, n_centroids=4)),
    }
    for name, plan in plans.items():
        assert "SortAggregate" not in plan, (name, plan)
        assert "HashAggregate" in plan, (name, plan)


# ---- training-set assembly: hash_split / chunk_pack -------------------------


def test_hash_split_deterministic_and_partition_independent(spark):
    from geostatstransforms_jl_spark.textops import hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, w, seed=3).collect()}
    # same ids, different physical layout → byte-identical assignment
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7, "lang"), w, seed=3).collect()
    }
    assert a == b and set(a.values()) <= set(w)
    # a different seed reshuffles membership (overwhelmingly likely for 600 ids)
    c = {r.doc_id: r.split for r in hash_split(docs, w, seed=4).collect()}
    assert a != c
    # fractions land near the request (hash uniformity, loose 3-sigma-ish band)
    n = len(a)
    train_frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train_frac < 0.9
    # zero shuffles: membership must not depend on any exchange
    assert "Exchange" not in _plan(hash_split(docs, w, seed=3))


def test_hash_split_validation(spark):
    from geostatstransforms_jl_spark.textops import hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="at least one"):
        hash_split(docs, {})
    with pytest.raises(ValueError, match="non-negative"):
        hash_split(docs, {"a": -0.1, "b": 1.1})
    with pytest.raises(ValueError, match="already exists"):
        hash_split(docs, {"a": 1.0}, out="lang")


def test_chunk_pack_matches_serial_replay(spark):
    from geostatstransforms_jl_spark.textops import chunk_pack

    # adversarial token counts: zeros, exact chunk multiples, giant docs that
    # span many chunks — sharded so the cross-shard offset path is exercised
    toks = [0, 512, 1, 511, 0, 513, 37, 1024, 5, 2000, 512, 0, 3, 509, 7]
    rows = [(i * 10, t) for i, t in enumerate(toks)]  # sparse, shuffled ids
    import random

    rng = random.Random(5)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(shuffled, "doc_id long, n_toks long")
    got = {
        r.doc_id: (r.chunk_id, r.chunk_offset, r.n_chunks)
        for r in chunk_pack(df, 64, "n_toks", shard_size=3).collect()
    }
    # independent serial replay of concat-and-chunk
    start = 0
    want = {}
    for did, t in rows:  # doc_id order
        cid, off = start // 64, start % 64
        nch = 0 if t == 0 else (start + t - 1) // 64 - cid + 1
        want[did] = (cid, off, nch)
        start += t
    assert got == want


def test_chunk_pack_plan_shape(spark):
    from geostatstransforms_jl_spark.textops import chunk_pack

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.withColumn(
        "n_toks", F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("long")
    )
    plan = _plan(chunk_pack(toks, 512, "n_toks", shard_size=64))
    # the DATA path must be hash-partitioned by shard (one exchange + local
    # sort), never a global single-partition sort of the corpus; the only
    # SinglePartition exchange allowed is the tiny per-shard totals branch
    assert "hashpartitioning(_shard" in plan
    data_side = plan.split("BroadcastExchange")[0]
    assert "Exchange SinglePartition" not in data_side
    with pytest.raises(ValueError, match="chunk_size"):
        chunk_pack(toks, 0, "n_toks")


def test_chunk_pack_exact_above_2_53(spark, tmp_path):
    from geostatstransforms_jl_spark.textops import chunk_pack, chunk_pack_sorted

    # running offsets far above 2^53, where a double no longer holds every
    # integer: the second doc starts at big - 1, which a double rounds up to
    # the multiple of 1000 `big`.  Negative ids and ids above 2^53 exercise
    # the default shard key.  Both routes must equal exact Python-int replay.
    big = 128_000 * (2**60 // 128_000)
    ids = [-(2**62), -7, -1, 0, 5, 2**53 + 1, 2**60 + 3, 2**62 + 9]
    toks = [big - 1, 2**58 + 3, 0, 999, 2**59 + 17, 1, 2**57 - 1, 1001]
    path = str(tmp_path / "big_offsets")
    (spark.createDataFrame(list(zip(ids, toks)), "doc_id long, n_toks long")
     .repartitionByRange(3, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(path))
    src = spark.read.parquet(path)
    want, start = {}, 0
    for did, t in zip(ids, toks):  # ids are in order
        cid = start // 1000
        want[did] = (cid, start - cid * 1000, 0 if t == 0 else (start + t - 1) // 1000 - cid + 1)
        start += t
    key = lambda df: {
        r.doc_id: (r.chunk_id, r.chunk_offset, r.n_chunks) for r in df.collect()
    }
    assert key(chunk_pack(src, 1000, "n_toks", shard_size=3)) == want
    assert key(chunk_pack_sorted(src, 1000, "n_toks")) == want


@pytest.mark.parametrize("col", ["chunk_id", "chunk_offset", "n_chunks"])
def test_chunk_pack_rejects_output_column_collision(spark, col):
    from geostatstransforms_jl_spark.textops import chunk_pack

    df = spark.createDataFrame([(1, 3, 0)], f"doc_id long, n_toks long, {col} long")
    with pytest.raises(ValueError, match=f"already has a '{col}' column"):
        chunk_pack(df, 64, "n_toks")


@pytest.mark.parametrize("col", ["_shard", "_local_end", "_before"])
def test_chunk_pack_rejects_internal_column_collision(spark, col):
    from geostatstransforms_jl_spark.textops import chunk_pack

    df = spark.createDataFrame([(1, 3, 0)], f"doc_id long, n_toks long, {col} long")
    with pytest.raises(ValueError, match=f"already has a '{col}' column"):
        chunk_pack(df, 64, "n_toks")


def test_chunk_pack_sorted_rejects_all_null_key_fragment(spark, tmp_path):
    from geostatstransforms_jl_spark.textops import chunk_pack_sorted

    path = str(tmp_path / "null_keys")
    (spark.range(100, numPartitions=1)
     .select(F.col("id").alias("doc_id"), F.lit(3).cast("long").alias("n_toks"))
     .write.parquet(path))
    (spark.createDataFrame([(None, 3), (None, 4)], "doc_id long, n_toks long")
     .coalesce(1).write.mode("append").parquet(path))
    # a NULL key is a bad input, not a layout the generic route accepts
    with pytest.raises(ValueError, match="NULL 'doc_id' order key in 2 row") as err:
        chunk_pack_sorted(spark.read.parquet(path), 64, "n_toks")
    assert "generic" not in str(err.value)


# ids (1, 2, NULL, NULL) with tokens (5, 7, 3, 4) once made the generic route
# return 2 rows with doc 1 at chunk 1; a NULL count gave NULL chunk columns
# there and corrupted the NEXT row's chunk_id on the sorted route
@pytest.mark.parametrize("route", ["generic", "sorted"])
@pytest.mark.parametrize("rows, bad", [
    pytest.param([(1, 5), (2, 7), (None, 3), (None, 4)], "'doc_id' order key", id="null_key"),
    pytest.param([(1, 5), (2, None), (3, 4), (4, 6)], "'n_toks' token count", id="null_count"),
])
def test_chunk_pack_rejects_null_inputs_on_both_routes(spark, tmp_path, route, rows, bad):
    from pyspark.errors import SparkRuntimeException

    from geostatstransforms_jl_spark.textops import chunk_pack, chunk_pack_sorted

    df = spark.createDataFrame(rows, "doc_id long, n_toks long")
    if route == "generic":
        with pytest.raises(SparkRuntimeException, match=f"chunk_pack: NULL {bad}"):
            chunk_pack(df, 4, "n_toks").collect()
    else:
        path = str(tmp_path / "nulls")
        df.coalesce(1).write.parquet(path)
        with pytest.raises(ValueError, match=f"chunk_pack_sorted: NULL {bad}"):
            chunk_pack_sorted(spark.read.parquet(path), 4, "n_toks")


def test_chunk_pack_sorted_matches_generic(spark, tmp_path):
    from geostatstransforms_jl_spark.textops import chunk_pack, chunk_pack_sorted

    # id-sorted physical layout: each written file is one contiguous id range
    path = str(tmp_path / "sorted_docs")
    (spark.range(5000, numPartitions=6)
     .select(F.col("id").alias("doc_id"),
             F.pmod(F.xxhash64("id"), F.lit(97)).alias("n_toks"))
     .write.parquet(path))
    src = spark.read.parquet(path)
    key = lambda df: {
        r.doc_id: (r.chunk_id, r.chunk_offset, r.n_chunks) for r in df.collect()
    }
    a = key(chunk_pack_sorted(src, 64, "n_toks"))
    b = key(chunk_pack(src, 64, "n_toks", shard_size=512))
    assert a == b and len(a) == 5000
    # zero-shuffle: no Exchange anywhere in the main pass
    assert "Exchange" not in _plan(chunk_pack_sorted(src, 64, "n_toks"))


def test_chunk_pack_sorted_rejects_unsorted_layout(spark, tmp_path):
    from geostatstransforms_jl_spark.textops import chunk_pack_sorted

    path = str(tmp_path / "shuffled_docs")
    (spark.range(2000)
     .select(F.col("id").alias("doc_id"), F.lit(3).alias("n_toks"))
     .repartition(5)  # hash layout: every file spans the whole id range
     .write.parquet(path))
    src = spark.read.parquet(path)
    with pytest.raises(ValueError, match="not sorted|overlap"):
        chunk_pack_sorted(src, 64, "n_toks")


def test_chunk_pack_sorted_string_keys(spark, tmp_path):
    from geostatstransforms_jl_spark.textops import chunk_pack_sorted

    # the sorted route supports non-numeric order keys (no shard arithmetic)
    path = str(tmp_path / "string_docs")
    (spark.range(300, numPartitions=3)
     .select(F.format_string("doc%06d", F.col("id")).alias("doc_id"),
             F.pmod(F.xxhash64("id"), F.lit(50)).alias("n_toks"))
     .write.parquet(path))
    src = spark.read.parquet(path)
    rows = {r.doc_id: r for r in chunk_pack_sorted(src, 32, "n_toks").collect()}
    toks = {r.doc_id: r.n_toks for r in src.collect()}
    start = 0
    for did in sorted(toks):  # lexicographic == id order by construction
        t = toks[did]
        assert rows[did].chunk_id == start // 32
        assert rows[did].chunk_offset == start % 32
        assert rows[did].n_chunks == (0 if t == 0 else (start + t - 1) // 32 - start // 32 + 1)
        start += t


def test_chunk_pack_sorted_split_file_fragments(spark, tmp_path):
    # one LARGE file read as many scan partitions: the pre-pass must stitch
    # per-(partition, file) fragments back into key order, not assume
    # file == partition
    from geostatstransforms_jl_spark.textops import chunk_pack, chunk_pack_sorted

    path = str(tmp_path / "one_big_file")
    (spark.range(60000, numPartitions=1)
     .select(F.col("id").alias("doc_id"),
             F.pmod(F.xxhash64("id"), F.lit(91)).alias("n_toks"))
     .write.parquet(path))
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        src = spark.read.parquet(path)
        n_parts = src.rdd.getNumPartitions()
        got = {
            r.doc_id: (r.chunk_id, r.chunk_offset, r.n_chunks)
            for r in chunk_pack_sorted(src, 128, "n_toks").collect()
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
    assert n_parts > 1, "fixture must actually split the file"
    src2 = spark.read.parquet(path)
    want = {
        r.doc_id: (r.chunk_id, r.chunk_offset, r.n_chunks)
        for r in chunk_pack(src2, 128, "n_toks", shard_size=8192).collect()
    }
    assert got == want and len(got) == 60000


def test_chunk_pack_sorted_rejects_in_memory_input(spark):
    from geostatstransforms_jl_spark.textops import chunk_pack_sorted

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(5).alias("n_toks")
    )
    with pytest.raises(ValueError, match="file-source"):
        chunk_pack_sorted(df, 64, "n_toks")
