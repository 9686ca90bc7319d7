"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame ops where possible so DuckDB can replay
them as oracle SQL (the MinHash family deliberately builds on md5-hex
string minima — md5 is identical across engines, unlike xxhash64):

- exact: group by md5(text) (hash-groupBy; one shuffle keyed by digest)
- ngram-Jaccard: shingle explode → self-join on shingle → |∩|/|∪| filter
- MinHash + LSH: shingle → per-seed min(md5(seed‖shingle)) signature →
  band buckets via md5(band signature) → bucket join for candidates
- SimHash: 64-bit signed-bit-sum signature via vectorized pandas UDF
  (Arrow batches)
- embedding cosine near-dup: embedding_near_dup_pairs (exact blocked
  top-k, threshold filter)

Scale notes: every join here is keyed by content-derived digests, which
hash-distribute uniformly (no skew salting needed except the shingle join,
where stop-shingles are the hot keys — df filter via a document-frequency
cap, the standard trick).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col):
    """Lowercase, collapse whitespace — the reference's title-normalize
    pattern (/root/reference/data/south_china.py:12)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, group_id, group_size, is_canonical) for docs whose
    normalized text appears more than once; canonical = min doc_id."""
    keyed = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(normalize_text(F.col(text_col))).alias("digest")
    )
    grouped = keyed.groupBy("digest").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("group_id")
    )
    return (
        keyed.join(grouped, "digest")
        .where(F.col("group_size") > 1)
        .select(
            "doc_id",
            "group_id",
            "group_size",
            (F.col("doc_id") == F.col("group_id")).alias("is_canonical"),
        )
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingle table (doc_id, shingle), distinct per doc."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = 10_000,
) -> DataFrame:
    """(src, dst, jaccard) canonical pairs with shingle-set Jaccard ≥ thr.

    max_df drops shingles appearing in more than max_df docs (stop-shingle
    skew cap — the same degree-histogram-then-cap pattern as edge
    induction). It defaults ON: without it, one stop-shingle shared by d
    documents contributes d² join rows, which is the whole blow-up at
    corpus scale; a shingle in >10k docs cannot participate in any pair
    with Jaccard near dedup thresholds anyway unless the docs are near-
    identical boilerplate, which the exact/minhash paths catch. Pass
    max_df=None for the exact small-corpus semantics (the oracle queries
    do, so DuckDB replays them verbatim).
    """
    sh = shingles(docs, id_col, text_col, n)
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(dfreq.where(F.col("_df") <= max_df), "shingle").select("doc_id", "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed("doc_id", "src")
    b = sh.withColumnRenamed("doc_id", "dst")
    inter = (
        a.join(b, "shingle")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "src").withColumnRenamed("n_sh", "na"), "src")
        .join(sizes.withColumnRenamed("doc_id", "dst").withColumnRenamed("n_sh", "nb"), "dst")
        .select(
            "src",
            "dst",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, sig: array<string>) — per-seed min of md5(seed‖shingle).

    String-min over md5 hex is engine-portable (DuckDB md5 == Spark md5),
    unlike xxhash64; any uniform hash family gives the Jaccard estimate.
    """
    from louvain_spark.plans.fanout import apply_scan_fanout

    # num_hashes md5 folds per shingle dominate the scan stage (~6s serial
    # at 5k docs) — fan a single-row-group source out before the explode
    docs = apply_scan_fanout(docs)
    sh = shingles(docs, id_col, text_col, n)
    mins = sh.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(F.md5(F.concat(F.lit(f"s{i}:"), F.col("shingle"))))
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )
    return mins


def _minhash_buckets(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """(doc_id, bucket) — banded MinHash band-bucket membership, the
    shared substrate of minhash_lsh_pairs and lsh_cluster_edges."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, id_col, text_col, n)
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.concat(F.lit(f"{b}:"), F.col(f"b{b}")) for b in range(bands)])
        ).alias("bucket"),
    )


def lsh_cluster_edges(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(src, dst) — a connectivity-EQUIVALENT edge set for transitive
    near-dup clustering: per band bucket, a star from the bucket's min
    doc_id to every other member.

    Two docs share a bucket iff they are connected through that bucket's
    star root, so connected components over these edges are IDENTICAL to
    components over minhash_lsh_pairs' all-pairs output — but the edge
    count is O(Σ bucket_size) instead of O(Σ bucket_size²). At the
    advisory's hot-family shape (1.5M docs, 320-doc near-dup families)
    the all-pairs form materializes 191M candidate pairs where this form
    emits <5M star edges — the difference between a dedup clustering
    pass that needs 3g/core and one that runs in the default footprint
    (BENCH/dedup_10x_advisory.md).

    ONLY valid when candidates feed transitive clustering unverified
    (near_dup_clusters). Per-pair verification (an exact Jaccard
    re-check) needs the real pairs: a verified star edge says nothing
    about non-root member pairs, so use minhash_lsh_pairs there.
    """
    bucket = _minhash_buckets(docs, num_hashes, bands, id_col, text_col, n)
    roots = bucket.groupBy("bucket").agg(F.min("doc_id").alias("src"))
    return (
        bucket.join(roots, "bucket")
        .where(F.col("doc_id") != F.col("src"))
        .select("src", F.col("doc_id").alias("dst"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature split into `bands` bands of num_hashes/bands rows; docs
    sharing any band bucket (md5 of the band's mins) become a candidate
    pair.

    Pair volume is O(Σ bucket_size²) — at hot near-dup family shapes
    that is quadratic by spec (191M pairs at 1.5M docs / 320-doc
    families, needing ≥3g/core to materialize —
    BENCH/dedup_10x_advisory.md). When the pairs feed UNVERIFIED
    transitive clustering (near_dup_clusters), use lsh_cluster_edges
    instead: identical components from O(Σ bucket_size) star edges.
    """
    bucket = _minhash_buckets(docs, num_hashes, bands, id_col, text_col, n)
    a = bucket.withColumnRenamed("doc_id", "src")
    b = bucket.withColumnRenamed("doc_id", "dst")
    return (
        a.join(b, "bucket").where(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    )


def fnv1a_hash_tokens(tokens) -> np.ndarray:
    """Vectorized FNV-1a over a sequence of token strings → uint64 array.

    Builds the padded byte matrix and delegates to the shared masked FNV
    kernel (functions/featurize.fnv1a_masked) — one numpy op per byte
    position over the whole batch instead of per-byte Python.
    """
    from louvain_spark.functions.featurize import fnv1a_masked

    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
    buf = np.zeros((n, max(int(lens.max()), 1)), dtype=np.uint8)
    for i, b in enumerate(enc):
        if b:
            buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return fnv1a_masked(buf, lens)


def simhash_batch(texts: pd.Series, hash_name: str = "fnv") -> np.ndarray:
    """Vectorized 64-bit SimHash over a pandas batch of texts → int64
    signatures.

    tokenization (lower + whitespace split) → unique-token hash (each
    distinct token hashed once per batch) → per-doc signed bit-sums via
    one segmented reduce → sign → bit-pack. hash_name='fnv' (default) is
    the vectorized FNV-1a, bit-for-bit equal to the scalar definition
    (pytest oracle); hash_name='md5' takes the first 8 big-endian bytes of
    md5(token) — engine-portable, so DuckDB can replay the signature as an
    oracle (same trick as the MinHash family).
    """
    s = texts.fillna("").astype(str).str.lower().str.split().reset_index(drop=True)
    flat = s.explode()
    flat = flat[flat.notna()]
    if len(flat) == 0:
        return np.zeros(len(texts), dtype=np.int64)
    doc_idx = flat.index.to_numpy()  # non-decreasing (explode preserves order)
    codes, uniq = pd.factorize(flat.to_numpy())
    if hash_name == "md5":
        import hashlib

        hu = np.fromiter(
            (
                int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                for t in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
    elif hash_name == "fnv":
        hu = fnv1a_hash_tokens(list(uniq))
    else:
        raise ValueError(f"unknown hash_name: {hash_name!r}")
    h = hu[codes]  # per-occurrence token hash
    bit_idx = np.arange(64, dtype=np.uint64)
    # ones-count per (doc, bit) via one segmented reduce over the
    # occurrence-ordered bit matrix; signed sum = 2·ones − n_tokens
    ones = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int32)
    seg_starts = np.flatnonzero(np.r_[True, doc_idx[1:] != doc_idx[:-1]])
    ones_per_doc = np.add.reduceat(ones, seg_starts, axis=0).astype(np.int64)
    n_tok = np.diff(np.r_[seg_starts, len(doc_idx)]).astype(np.int64)
    acc_seg = 2 * ones_per_doc - n_tok[:, None]
    packed = ((acc_seg > 0).astype(np.uint64) << bit_idx[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    sig = np.zeros(len(texts), dtype=np.int64)
    sig[doc_idx[seg_starts]] = packed.view(np.int64)
    return sig


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_name: str = "fnv",
) -> DataFrame:
    """(doc_id, simhash: long) — 64-bit signed bit-sum over per-token hashes.

    Arrow-batched pandas UDF; the batch kernel is fully vectorized
    (simhash_batch: unique tokens hashed once, one segmented reduce per
    batch). hash_name='fnv' for cross-run determinism (pytest oracle),
    'md5' for DuckDB-replayable signatures.
    """

    from louvain_spark.plans.fanout import apply_scan_fanout

    docs = apply_scan_fanout(docs)

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts, hash_name))

    return docs.select(F.col(id_col).alias("doc_id"), _simhash(F.col(text_col)).alias("simhash"))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 50,
) -> DataFrame:
    """(src, dst, sim) canonical near-duplicate pairs by embedding cosine.

    Vectors are L2-normalized in-plan (HOFs, no Python); candidate
    generation is per-query top-k (each near-dup pair surfaces from
    either endpoint's top-k, so pairs with more than k neighbors above
    threshold are still found as long as either side lists the other).
    """
    from louvain_spark.operators.similarity import cosine_topk_blocked

    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    # zero-norm guard (NULL-embedding fallbacks are zero vectors by
    # contract): keep them as zero vectors
    # (sim 0 → below any threshold) instead of NaN-poisoning the top-k.
    # Double-precision normalize, matching the DuckDB oracle.
    unit = embeddings.select(
        F.col(id_col).alias("id"),
        F.when(
            norm > 0, F.transform(vec_col, lambda x: x / norm)
        ).otherwise(
            F.transform(vec_col, lambda x: x.cast("double") * 0.0)
        ).alias("vec"),
    )
    spark = embeddings.sparkSession
    topk = cosine_topk_blocked(
        spark, unit, unit, k=k, min_sim=threshold, exclude_self=True
    )
    return (
        topk.select(
            F.least("query_id", "item_id").alias("src"),
            F.greatest("query_id", "item_id").alias("dst"),
            "sim",
        )
        .groupBy("src", "dst")
        .agg(F.max("sim").alias("sim"))
    )


def near_dup_clusters(spark, pairs: DataFrame) -> DataFrame:
    """(doc_id, group_id, group_size, is_canonical) — transitive near-dup
    clusters over candidate pairs, with a deterministic canonical member.

    The "keep one per near-duplicate cluster" action of a training-data
    dedup pipeline: `pairs` (src, dst) comes from any candidate generator
    (minhash_lsh_pairs, lsh_cluster_edges, ngram_jaccard_pairs,
    embedding_near_dup_pairs); the transitive closure runs through the
    skew-safe distributed connected-components operator (min-id label
    propagation — a 100 TB pair set never fits a driver-side union-find),
    so group_id = min doc_id reachable and is_canonical = (doc_id ==
    group_id). Only clustered docs appear (every vertex here has ≥1
    neighbor by construction, so group_size ≥ 2); anti-join the
    non-canonical rows against the corpus to materialize the deduped set.

    Generalizes the reference's driver-side exact-name dedup
    (/root/reference/data/south_china.py:7 — remove_duplicate_news, a
    driver-side seen-title set) to transitive fuzzy clusters at cluster scale.

    Scale: CC shuffles are keyed by doc_id (uniform); the group-size agg
    is a map-side-combinable count keyed by component. No skew hotspot:
    even a pathological near-dup family of m docs is one component whose
    size agg sees m pre-combined partial counts, not m rows on one task.
    """
    from .cc import connected_components

    comp = connected_components(spark, pairs.select("src", "dst"))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("group_id"),
        "group_size",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, n_hit, frac_r6, contaminated) per test doc —
    the train/eval decontamination check of an LLM data pipeline: which
    held-out documents share word n-grams with the training corpus.

    EVERY test doc appears in the output, including those whose
    normalized text yields zero shingles (null text): such degenerate
    rows come back with n_shingles=0, n_hit=0, frac_r6=null,
    contaminated=false, so a decontamination audit can flag rather than
    silently skip them (r5 ADVICE).

    The train side collapses to a DISTINCT shingle set before the join,
    so each test shingle matches at most one row — no join fan-out and no
    hot-key blow-up no matter how frequent a boilerplate n-gram is in
    train (the max_df skew cap the pairwise shingle joins need is
    unnecessary here by construction). Both shuffles are keyed by
    content-derived shingles (uniform); the per-doc aggregation is
    map-side combinable. At 100 TB the distinct train-shingle set is the
    dominant shuffle; n=8-or-longer grams keep it near-unique per source
    sentence, i.e. proportional to the corpus, not quadratic in it.

    Composes with hash_split (leakage audit of a proposed split) or any
    external eval set sharing (id_col, text_col).
    """
    # a null-text doc emits one NULL shingle and a whitespace-only doc one
    # empty shingle (split/slice semantics) — both are phantoms, not
    # n-grams; drop them so such docs count as zero-shingle
    real = F.col("shingle").isNotNull() & (F.col("shingle") != "")
    tr = shingles(train, id_col, text_col, n).where(real).select("shingle").distinct()
    te = shingles(test, id_col, text_col, n).where(real)
    all_docs = test.select(F.col(id_col).alias("doc_id")).distinct()
    sizes = te.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = te.join(tr, "shingle").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    # try_divide, not /: ANSI mode raises on the n_shingles=0 rows this
    # left join deliberately keeps
    frac = F.try_divide(n_hit, n_sh)
    return (
        all_docs.join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_hit.alias("n_hit"),
            F.round(frac, 6).alias("frac_r6"),
            F.coalesce(frac >= threshold, F.lit(False)).alias("contaminated"),
        )
    )
