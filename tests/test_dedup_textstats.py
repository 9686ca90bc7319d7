"""Dedup family + text stats vs pure-python oracles."""

import itertools

import numpy as np
import pytest

from louvain_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from louvain_spark.operators.textstats import (
    fingerprint,
    language_id,
    quality_scores,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
    (2, "The quick  brown fox jumps over the lazy dog"),      # dup after normalize
    (3, "the quick brown fox jumps over the lazy cat"),       # near dup
    (4, "der schnelle braune fuchs springt und der hund ist"),
    (5, "le renard brun est rapide et les chiens sont la"),
    (6, "completely unrelated text about spark engines and shuffles"),
    (7, ""),
]
SCHEMA = "doc_id long, text string"


def _docs(spark):
    return spark.createDataFrame(DOCS, SCHEMA)


def _py_shingles(text, n=3):
    toks = " ".join(text.lower().split()).split(" ")
    if toks == [""]:
        toks = [""]
    if len(toks) <= n:
        return {" ".join(toks[: n])} if text.strip() else {""}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_exact_duplicates(spark):
    got = {r["doc_id"]: (r["group_id"], r["group_size"], r["is_canonical"])
           for r in exact_duplicates(_docs(spark)).collect()}
    assert set(got) == {0, 1, 2}
    assert all(v[0] == 0 and v[1] == 3 for v in got.values())
    assert got[0][2] is True and got[1][2] is False


def test_ngram_jaccard_matches_python(spark):
    got = {(r["src"], r["dst"]): r["jaccard"]
           for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()}
    texts = dict(DOCS)
    want = {}
    for a, b in itertools.combinations(range(len(DOCS)), 2):
        sa, sb = _py_shingles(texts[a]), _py_shingles(texts[b])
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.3:
            want[(a, b)] = j
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_minhash_estimates_jaccard(spark):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(_docs(spark), num_hashes=64).collect()}
    est = np.mean([a == b for a, b in zip(sigs[0], sigs[3])])
    texts = dict(DOCS)
    sa, sb = _py_shingles(texts[0]), _py_shingles(texts[3])
    true_j = len(sa & sb) / len(sa | sb)
    assert abs(est - true_j) < 0.25  # 64 hashes → rough estimate
    assert sigs[0] == sigs[1] == sigs[2]  # identical after normalize


def test_minhash_lsh_finds_dups(spark):
    pairs = {(r["src"], r["dst"]) for r in
             minhash_lsh_pairs(_docs(spark), num_hashes=16, bands=8).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs


def test_simhash_dups_and_hamming(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(_docs(spark)).collect()}
    # exact dups (after normalize) share a signature: hamming 0
    assert sigs[0] == sigs[1] == sigs[2]


def test_token_stats_and_quality(spark):
    qs = {r["doc_id"]: r for r in quality_scores(_docs(spark)).collect()}
    assert qs[0]["n_tokens"] == 9
    assert qs[7]["n_tokens"] == 0 and qs[7]["quality"] == 0.0
    assert qs[0]["quality"] > qs[7]["quality"]


def test_language_id(spark):
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(_docs(spark)).collect()}
    assert got[0] == "en"
    assert got[4] == "de"
    assert got[5] == "fr"
    assert got[7] == "und"


def test_fingerprint_stable_for_dups(spark):
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(_docs(spark)).collect()}
    assert fp[0] == fp[1] == fp[2]
    assert fp[0] != fp[6]


def _fnv1a_bytes(data: bytes) -> int:
    """Scalar 64-bit FNV-1a: the definition functions/featurize.fnv1a_masked
    vectorizes. Python ints with explicit 64-bit wraparound (numpy uint64
    emits overflow RuntimeWarnings on the intentional modular multiply)."""
    h = 14695981039346656037
    for b in data:
        h = ((h ^ b) * 1099511628211) & ((1 << 64) - 1)
    return h


def test_simhash_batch_matches_scalar_definition():
    """Vectorized simhash kernel == per-token/per-byte scalar definition."""
    import pandas as pd

    from louvain_spark.operators.dedup import simhash_batch

    def scalar(t, bits=64):
        if not t:
            return 0
        toks = str(t).lower().split()
        if not toks:
            return 0
        acc = np.zeros(bits, np.int64)
        for tok in toks:
            h = _fnv1a_bytes(tok.encode("utf-8"))
            for b in range(bits):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(bits) if acc[b] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    rng = np.random.RandomState(5)
    texts = [t for _, t in DOCS] + [None, "Ü unicode tëxt"] + [
        " ".join(
            "".join(rng.choice(list("abcxyz"), rng.randint(1, 9)))
            for _ in range(rng.randint(1, 40))
        )
        for _ in range(100)
    ]
    got = simhash_batch(pd.Series(texts))
    for i, t in enumerate(texts):
        assert got[i] == scalar(t), (i, t)


def test_embedding_near_dup_exact_and_approximate(spark):
    """Near-dup pairs by cosine: exact blocked path finds all pairs above
    threshold; the LSH approximate path (cosine_topk_lsh over the unit
    vectors) agrees on well-separated dups."""
    from pyspark.sql import functions as F

    from louvain_spark.operators.dedup import embedding_near_dup_pairs
    from louvain_spark.operators.similarity import cosine_topk_lsh

    rng = np.random.RandomState(3)
    base = rng.randn(6, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(2):  # two noisy copies of each base vector → dup pair
            v = b + 0.01 * rng.randn(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["src"], r["dst"])
        for r in embedding_near_dup_pairs(emb, threshold=0.95, k=5).collect()
    }
    want = {(2 * i, 2 * i + 1) for i in range(6)}
    assert got == want
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = emb.select(
        F.col("vec_id").alias("id"), F.transform("embedding", lambda x: x / norm).alias("vec")
    )
    approx = {
        (min(r["query_id"], r["item_id"]), max(r["query_id"], r["item_id"]))
        for r in cosine_topk_lsh(spark, unit, unit, k=5, dim=16, min_sim=0.95).collect()
    }
    assert approx == want


def test_near_dup_clusters_transitive_canonical(spark):
    """LSH pairs → CC transitive closure → min-id canonical per cluster.

    Chain A-B-C where A~B and B~C pair but A-C never do directly: the
    cluster must still merge (transitivity is the point of using CC
    instead of keeping raw pairs), canonical = min doc_id, singletons
    (docs in no pair) absent.
    """
    from louvain_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (50, 60)], "src long, dst long"
    )
    out = {
        r["doc_id"]: (r["group_id"], r["group_size"], r["is_canonical"])
        for r in near_dup_clusters(spark, pairs).collect()
    }
    assert out == {
        10: (10, 3, True),
        20: (10, 3, False),
        30: (10, 3, False),
        50: (50, 2, True),
        60: (50, 2, False),
    }


def test_lsh_cluster_edges_connectivity_equivalent(spark):
    """Per-bucket star edges must yield IDENTICAL near-dup clusters to
    the all-pairs candidate output — the O(bucket) vs O(bucket²) scale
    path for unverified transitive clustering (two docs share a bucket
    iff both connect to its star root). Clustered corpus with two
    near-dup families plus unique docs."""
    from louvain_spark.operators.dedup import (
        lsh_cluster_edges,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    rows = []
    for fam, base in ((0, "alpha beta gamma delta epsilon zeta eta theta"),
                      (1, "one two three four five six seven eight")):
        for j in range(6):
            rows.append((fam * 10 + j, base + f" tail{fam}x{j}"))
    rows += [(100, "completely different text body here"),
             (101, "another unrelated unique document text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=8, n=2)
    stars = lsh_cluster_edges(docs, num_hashes=16, bands=8, n=2)
    n_pairs, n_stars = pairs.count(), stars.count()
    assert n_stars <= n_pairs  # star form never emits more edges
    got_pairs = sorted(near_dup_clusters(spark, pairs).collect())
    got_stars = sorted(near_dup_clusters(spark, stars).collect())
    assert got_pairs == got_stars
    assert got_pairs  # the families actually clustered
