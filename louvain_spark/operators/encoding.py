"""Corpus encoding operators: bulk tokenization against a built
vocabulary, and an in-corpus bigram language-model quality score.

These are the two steps downstream of `webstats.build_vocab` in a
training-data pipeline: turn every document into an ``array<bigint>`` of
token ids (the bulk-tokenize pass), and score every document with a
smoothed n-gram LM trained on the corpus itself (the CCNet-style
perplexity quality filter, here at bigram order so the model is a pair
of combinable count tables instead of an external artifact).

Reference analog: the per-file counting/cleanup passes in the
reference's data scripts (/root/reference/data/south_china.py:7-16 is
the closest cousin); both operators here are pure DataFrame plans so an
exact DuckDB oracle twin exists.

Portability contract (same trick as webstats.tfidf_top_terms): every
cross-engine float is rounded to a fixed precision BEFORE any
aggregation — the LM negative-log-likelihood is quantized to integer
micro-nats per distinct bigram, so the per-document sums are exact
integer arithmetic and engine order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from louvain_spark.operators.textstats import lower_tokens as _tokens
from louvain_spark.plans.gate import broadcast_or_shuffle


def encode_documents(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """(doc_id, n_tokens, token_ids) — every document encoded as an
    ``array<bigint>`` of vocabulary ids, order-preserving, out-of-vocab
    tokens mapped to ``unk_id``. Token-free documents appear with an
    empty array (completeness contract, same as ngram_contamination).

    `vocab` needs (term, term_id) columns with DISTINCT terms — a
    duplicate term would duplicate its occurrences in token_ids and
    inflate n_tokens (the join fan-out contract below assumes a keyed
    dictionary). `webstats.build_vocab` output fits directly and is
    distinct by construction; deduplicate any other source yourself
    (an unconditional dropDuplicates here would tax every caller with
    a shuffle to re-prove what the builder already guarantees).

    Scale: one posexplode + one keyed join + one per-doc collect. The
    dictionary join goes through the dimension-join gate (plans/gate.py):
    a top-k vocabulary broadcasts, a 10M+-term open vocabulary falls back
    to a hash join keyed on term, where the count table is distinct so join fan-out is
    exactly 1 and hot tokens cannot amplify rows. Order restoration is
    array_sort on (pos, id) structs inside the aggregate — no window,
    no secondary sort pass.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_t"))
    ex = toks.select("doc_id", F.posexplode("_t").alias("pos", "term"))
    # materialize the dictionary projection before the gate: the count
    # action and the join would otherwise each execute the caller's full
    # vocab lineage (build_vocab output is already checkpointed, but the
    # contract accepts ANY (term, term_id) frame)
    v = vocab.select(
        "term", F.col("term_id").cast("long").alias("_tid")
    ).localCheckpoint(eager=True)
    enc = ex.join(broadcast_or_shuffle(v, v.count()), "term", "left").select(
        "doc_id",
        "pos",
        F.coalesce("_tid", F.lit(int(unk_id)).cast("long")).alias("tid"),
    )
    agg = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
        ).alias("token_ids"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce("token_ids", F.array().cast("array<bigint>")).alias("token_ids"),
    )


def bigram_lm_scores(
    docs: DataFrame,
    k_smooth: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, sum_nll_u, score) — per-document mean
    negative log-likelihood under an add-k-smoothed bigram LM trained on
    the corpus itself: P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V). Lower
    score = more predictable text; the standard in-corpus stand-in for
    the KenLM perplexity filter in CCNet-style curation.

    `sum_nll_u` is the exact integer sum of per-bigram NLL quantized to
    micro-nats (round(-ln(p)·1e6) per DISTINCT bigram): quantizing
    before summation makes the result independent of engine summation
    order, and scoring on the distinct-bigram table means the ln() runs
    once per bigram TYPE, not per occurrence. Documents with <2 tokens
    get n_bigrams=0 and a NULL score (never a fake-perfect 0.0).

    Scale: count tables are combinable aggregates; the unigram join
    attaches c(w1) to the DISTINCT bigram table (bounded by |bigram
    types|, so the hot-stopword key skew never touches occurrence
    rows); occurrences then join the scored table on (w1,w2) with
    fan-out exactly 1. V is a 1-row broadcast fold.
    """
    k = float(k_smooth)
    # ONE tokenization pass: the regex-tokenized arrays are checkpointed
    # and every downstream branch (bigram pairs twice, unigrams once)
    # reads the blocks instead of re-running the full-corpus regex
    # lineage — the r6 form executed it three times (ADVICE r6). Lazy:
    # the first consumer's action materializes it. The returned frame
    # reads the snapshot, so its blocks stay until the JVM
    # garbage-collects it (the lifetime rule in plans/loop.py).
    # Chosen over checkpointing a per-doc DISTINCT bigram
    # count table (also evaluated): that form adds a (doc,w1,w2) shuffle
    # before the branches and measured 1.39s vs 1.07s for this form at
    # the bench corpus, with identical output.
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_t")
    ).localCheckpoint(eager=False)
    n = F.size(F.col("_t"))
    bg = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.get(F.col("_t"), i).alias("w1"),
                F.get(F.col("_t"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = toks.select("doc_id", F.explode(bg).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    )
    uni = (
        toks.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("v_size"))
    nll = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bg"))
        .join(uni, "w1")
        .join(F.broadcast(vsize))  # 1-row fold
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (F.col("c_bg") + F.lit(k))
                    / (F.col("c_w1") + F.lit(k) * F.col("v_size"))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("nll_u"),
        )
    )
    # scoring join on occurrence rows: nll is distinct on (w1,w2), so the
    # fan-out is exactly 1 and the per-doc sums are exact integer sums of
    # the quantized micro-nat values (order-free by construction)
    per = (
        pairs.join(nll, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_u").alias("sum_nll_u"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce("sum_nll_u", F.lit(0).cast("long")).alias("sum_nll_u"),
        F.when(
            F.col("n_bigrams").isNotNull(),
            F.round(F.col("sum_nll_u") / F.col("n_bigrams") / F.lit(1e6), 6),
        ).alias("score"),
    )
