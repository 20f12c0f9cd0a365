import pytest
from pyspark.sql import functions as F

from imagery_utils_spark.functions import text as TX
from imagery_utils_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en"),      # near dup of 0
        (3, "der hund und die katze sind von den tieren", "de"),
        (4, "completely different content about spark engines !!!", "en"),
        (5, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_counts(spark, docs):
    r = {x.doc_id: x for x in docs.select(
        "doc_id",
        TX.token_count_col(F.col("text")).alias("tc"),
        TX.bpe_token_count_col(F.col("text")).alias("bc"),
    ).collect()}
    assert r[0].tc == 9
    assert r[5].tc == 0
    assert r[4].bc == 9  # 6 words + 3 '!' marks


def test_quality_and_punct(spark, docs):
    r = {x.doc_id: x for x in docs.select(
        "doc_id",
        TX.punct_ratio_col(F.col("text")).alias("pr"),
        TX.quality_score_col(F.col("text")).alias("q"),
    ).collect()}
    assert r[0].pr == 0.0
    assert r[4].pr > 0.05
    assert 0.0 <= r[5].q <= 0.5
    assert r[0].q > r[5].q


def test_langid(spark, docs):
    r = {x.doc_id: x for x in docs.select(
        "doc_id", TX.langid_col(F.col("text")).alias("l")).collect()}
    assert r[0].l == "en"
    assert r[3].l == "de"
    assert r[5].l == "und"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha alpha"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x.fp for x in df.select(
        "doc_id", TX.fingerprint_col(F.col("text")).alias("fp")).collect()}
    assert r[0] == r[1]
    assert r[0] != r[2]


def test_exact_dedup(spark, docs):
    out = DD.exact_dedup(docs).collect()
    by_key = {r.doc_id: r.n_copies for r in out}
    assert by_key[0] == 2        # doc 1 collapsed into 0
    assert 1 not in by_key
    assert by_key[2] == 1


def test_shingles(spark, docs):
    r = docs.filter("doc_id = 0").select(
        DD.shingles_col(F.col("text"), 3).alias("s")).first().s
    assert "the quick brown" in r
    assert "over the lazy" in r
    assert len(r) == 7
    # short text: no shingles
    r5 = docs.filter("doc_id = 5").select(
        DD.shingles_col(F.col("text"), 3).alias("s")).first().s
    assert r5 == []


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.3, k=32, bands=16).collect()
    got = {(r.key_a, r.key_b): r.jaccard for r in pairs}
    assert (0, 1) in got and got[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in got and 0.3 <= got[(0, 2)] < 1.0    # near dup
    keys = set(got)
    assert (0, 4) not in keys and (3, 4) not in keys


def test_minhash_jaccard_estimate_quality(spark):
    # signature agreement should approximate true jaccard
    rows = [(0, " ".join(f"w{i}" for i in range(100))),
            (1, " ".join(f"w{i}" for i in range(20, 120)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = df.select(
        "doc_id", DD.minhash_signature_col(DD.shingles_col(F.col("text"), 2), k=128).alias("s")
    ).collect()
    s0, s1 = sig[0].s, sig[1].s
    est = sum(a == b for a, b in zip(s0, s1)) / len(s0)
    # true jaccard of 2-gram shingle sets ~ (99-39)/ (99+39) ... compute exactly:
    sh0 = {f"w{i} w{i+1}" for i in range(99)}
    sh1 = {f"w{i} w{i+1}" for i in range(20, 119)}
    true_j = len(sh0 & sh1) / len(sh0 | sh1)
    assert est == pytest.approx(true_j, abs=0.15)


def test_simhash_near_dup(spark):
    base = " ".join(f"word{i}" for i in range(48))
    near = base.replace("word7", "word7x")            # one token changed
    rows = [(0, base), (1, base), (2, near),
            (3, " ".join(f"other{i}" for i in range(48)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.simhash_near_dup_pairs(df, max_hamming=8).collect()
    got = {(r.key_a, r.key_b): r.hamming for r in pairs}
    assert got.get((0, 1)) == 0          # identical text -> identical fingerprint
    assert (0, 2) in got and got[(0, 2)] <= 8   # 1/48 tokens -> few bit flips
    assert (0, 3) not in got              # disjoint vocab -> far fingerprint


def test_winnowing_fingerprints(spark):
    from imagery_utils_spark.functions.text import winnowing_fingerprints_udf

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "PREFIX the quick brown fox jumps over something else"),  # shared run
        (2, "zqv unrelated wordlist entirely different content"),
        (3, "ab"),  # shorter than k -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnowing_fingerprints_udf(k=5, window=4)
    got = {r.doc_id: set(r.fps) for r in
           df.select("doc_id", fp(F.col("text")).alias("fps")).collect()}
    # guarantee: shared substring of length >= k+window-1 shares a fingerprint
    assert len(got[0] & got[1]) > 0
    assert len(got[0] & got[2]) == 0
    assert got[3] == set()
    # position independence: the same text prefixed differently still collides
    assert len(got[0]) > 3


def test_langid_tie_breaks_lexicographically_first(spark):
    # 'the le' hits en/fr/zh once each -> tie resolves to 'en' (ADVICE r1:
    # array_max on (hits, lang) alone picked the lexicographically LAST lang)
    df = spark.createDataFrame([("the le",), ("der le canard the of",)], "text string")
    r = [x.l for x in df.select(TX.langid_col(F.col("text")).alias("l")).collect()]
    assert r[0] == "en"
    # 2 hits beats any tie: en has {the, of} = 2
    assert r[1] == "en"


def test_minhash_battery_fixture_recall(spark, sf_dir):
    """Fixture-level recall for the battery's rows-only minhash query
    (VERDICT r1): every true-Jaccard >= 0.5 pair of the sf documents table is
    found (recall 1.0 here — exact duplicates collide in every band), and
    every reported pair's EXACT jaccard clears the threshold (the verify
    stage guarantees precision by construction)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]

    def sh(t):
        toks = [w for w in t.lower().split() if w]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t) for i, t in rows}
    true_pairs = set()
    ids = sorted(sets)
    for i_idx, a in enumerate(ids):
        for b in ids[i_idx + 1:]:
            u = len(sets[a] | sets[b])
            if u and len(sets[a] & sets[b]) / u >= 0.5:
                true_pairs.add((a, b))
    got = {(r.key_a, r.key_b): r.jaccard
           for r in DD.minhash_lsh_pairs(docs, threshold=0.5, k=64, bands=16).collect()}
    assert true_pairs <= set(got), true_pairs - set(got)
    for (a, b), j in got.items():
        u = len(sets[a] | sets[b])
        assert u and len(sets[a] & sets[b]) / u >= 0.5, (a, b, j)


def test_simhash_blocking_complete_on_fixture(spark, sf_dir):
    """The 4x16-bit chunk blocking must surface EVERY pair within Hamming<=3
    of the battery fixture (pigeonhole: <=3 flips leave >=1 chunk equal) —
    the candidate set equals the exact all-pairs answer."""
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = docs.select("doc_id", DD.simhash_udf()(F.col("text")).alias("fp")).collect()
    ids = np.array([r.doc_id for r in fps])
    # Spark's simhash is a signed long: reinterpret the bits as uint64
    v = np.array([r.fp for r in fps], dtype=np.int64).view(np.uint64)
    x = v[:, None] ^ v[None, :]
    ham = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        ham += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    ii, jj = np.where(np.triu(ham <= 3, k=1))
    exact = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))) for i, j in zip(ii, jj)}
    got = {(r.key_a, r.key_b)
           for r in DD.simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert got == exact


def test_bucket_pairs_star_semantics(spark):
    """bucket_pairs (r3): under-cap buckets all-pairs; over-cap buckets
    emit a min-key representative star; dedup across buckets."""
    from imagery_utils_spark.operators.dedup import bucket_pairs

    rows = (
        [("b1", k) for k in [3, 1, 2]]          # size 3 <= cap: all pairs
        + [("b2", k) for k in [10, 11, 12, 13]]  # size 4 > cap of 3: star
        + [("b3", k) for k in [1, 2]]            # duplicate pair across buckets
    )
    df = spark.createDataFrame(rows, "bkt string, k long")
    got = {(r.key_a, r.key_b) for r in
           bucket_pairs(df, "k", ["bkt"], max_bucket=3).collect()}
    assert got == {(1, 2), (1, 3), (2, 3),          # b1 all-pairs (+b3 dup merged)
                   (10, 11), (10, 12), (10, 13)}    # b2 star from min key 10


def test_auto_bucket_cap_resolution():
    """rank_auto's contract mirrored for LSH caps: explicit wins; no
    estimate -> uncapped; estimate over threshold -> default cap."""
    assert DD.auto_bucket_cap(17, None) == 17
    assert DD.auto_bucket_cap(17, 10**9) == 17
    assert DD.auto_bucket_cap(None, None) == DD.UNCAPPED_BUCKET
    assert DD.auto_bucket_cap(None, 1000) == DD.UNCAPPED_BUCKET
    assert DD.auto_bucket_cap(None, DD.BUCKET_CAP_THRESHOLD_ROWS + 1) == DD.DEFAULT_BUCKET_CAP


def test_capped_equals_uncapped_on_battery_fixture(spark, sf_dir):
    """The scale path (star-linked DEFAULT_BUCKET_CAP, what est_rows >
    threshold engages) must produce the SAME verified pairs as the
    uncapped battery default on the oracle fixture — the cap is a
    candidate-generation guardrail, not a semantic change here."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh_auto = {(r.key_a, r.key_b) for r in
               DD.minhash_lsh_pairs(docs, threshold=0.5, k=64, bands=16).collect()}
    mh_scale = {(r.key_a, r.key_b) for r in
                DD.minhash_lsh_pairs(docs, threshold=0.5, k=64, bands=16,
                                     est_rows=10**8).collect()}
    assert mh_auto == mh_scale and mh_auto
    sh_auto = {(r.key_a, r.key_b) for r in
               DD.simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    sh_scale = {(r.key_a, r.key_b) for r in
                DD.simhash_near_dup_pairs(docs, max_hamming=3,
                                          est_rows=10**8).collect()}
    assert sh_auto == sh_scale
