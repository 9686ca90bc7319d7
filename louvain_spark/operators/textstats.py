"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built from JVM-side expressions (regexp_extract_all, split,
aggregate HOFs) so DuckDB can replay each operator as oracle SQL — the
regexes are kept to the portable subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# language marker words (stopword heuristic, n-gram-free)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "ich"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "que"],
    "es": ["el", "la", "los", "que", "de", "es", "una", "para"],
}

TOKEN_RE = r"[A-Za-z0-9_']+"

# GPT-2-style pretokenizer, restricted to the lookahead-free ASCII subset
# so Java regex (Spark) and RE2 (DuckDB) agree match-for-match: English
# contractions, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, residual whitespace runs. The match
# COUNT approximates the BPE pretoken count (each pretoken splits into
# ≥1 BPE pieces; this is the standard cheap token-budget estimator).
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_count(col):
    """Word-token count via regexp_extract_all."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), 0))


def lower_tokens(text_col: str):
    """Lowercased word-token array of a (nullable) text column — THE
    shared tokenization expression: build_vocab, tfidf_top_terms,
    encode_documents and bigram_lm_scores must all tokenize identically
    (and identically to the DuckDB `_TOKENS` oracle macro in
    __spark_entry__.py) or the vocab/encode/LM oracle hashes drift."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return F.transform(
        F.regexp_extract_all(t, F.lit(TOKEN_RE), 0), lambda x: F.lower(x)
    )


def bpe_token_count(col):
    """BPE-ish pretoken count (GPT-2 pretokenizer shape, see BPE_SPLIT_RE)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_RE), 0))


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, mean_token_len, punct_ratio, upper_ratio,
    stopword_ratio, quality) — length/punct/stopword heuristics."""
    t = F.col(text_col)
    n_tok = token_count(t)
    tok_chars = F.length(F.regexp_replace(t, r"[^A-Za-z0-9_']", ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9_\s]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    stops = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(r"\b(the|and|of|to|is|in|a|that|it|for)\b"), 0
        )
    )
    n_len = F.greatest(F.length(t), F.lit(1))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        (tok_chars / F.greatest(n_tok, F.lit(1))).alias("mean_token_len"),
        (punct / n_len).alias("punct_ratio"),
        (upper / n_len).alias("upper_ratio"),
        (stops / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
    )
    quality = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .otherwise(
            F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
            + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.3
            + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
        )
    )
    return out.withColumn("quality", quality)


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang, lang_score) — argmax of per-language marker-word hits
    normalized by token count; 'und' (undetermined) when no marker hits."""
    t = F.lower(F.col(text_col))
    hit_cols = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        hit_cols[lang] = F.size(F.regexp_extract_all(t, F.lit(pat), 0))
    n_tok = F.greatest(token_count(F.col(text_col)), F.lit(1))
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        *[(hit_cols[lang] / n_tok).alias(f"score_{lang}") for lang in LANG_MARKERS],
    )
    best_score = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    lang_expr = F.when(best_score <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # dict order = tie-break priority (en first)
        lang_expr = lang_expr.when(F.col(f"score_{lang}") == best_score, F.lit(lang))
    return scored.select(
        "doc_id", lang_expr.alias("lang_pred"), best_score.alias("lang_score")
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5) -> DataFrame:
    """(doc_id, fingerprint) — min-of-kgram-md5 document fingerprint
    (winnowing-style selection with window = whole doc; robust to token
    order-preserving edits outside the minimal shingle)."""
    from louvain_spark.operators.dedup import shingles

    sh = shingles(docs, id_col, text_col, n)
    return sh.groupBy("doc_id").agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))


def corpus_stats(
    docs: DataFrame,
    keys: tuple[str, ...] = ("lang",),
    exact: bool = False,
) -> DataFrame:
    """Dataset-card summary per key group: doc count, distinct sources,
    mean and p50/p90 of `n_chars`.

    exact=False (the 100 TB default) uses `percentile_approx` — a
    mergeable t-digest-style sketch that aggregates map-side and never
    materializes a per-group sort, at accuracy 10,000 (worst-case rank
    error 1e-4). exact=True uses `percentile`
    (exact linear interpolation, bit-equal to DuckDB quantile_cont —
    the oracle mode), which buffers each group's values and is only for
    oracle parity and small data.
    """
    pctl = (
        (lambda p: F.percentile("n_chars", p))
        if exact
        else (lambda p: F.percentile_approx("n_chars", p, 10_000))
    )
    return docs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        F.round(F.avg("n_chars"), 6).alias("mean_val"),
        F.round(pctl(0.5).cast("double"), 6).alias("p50_val"),
        F.round(pctl(0.9).cast("double"), 6).alias("p90_val"),
    )


def repetition_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", table A1 family; reference analog: the
    doc-quality pruning the reference's curation scripts perform by hand),
    as an Arrow-batched kernel (guide §4.2).

    Output: (doc_id, n_lines, n_words, dup_line_frac, dup_line_char_frac,
    top_bigram_char_frac, dup_5gram_frac) where

    - dup_line_frac        = 1 - distinct_lines / lines (count-weighted)
    - dup_line_char_frac   = repeated-occurrence line chars / total line chars
    - top_bigram_char_frac = max over distinct word-bigrams of
                             occurrences * bigram_token_chars, / total token
                             chars. Deliberately deterministic under count
                             ties (maximizes count*chars, not count alone);
                             can exceed 1.0 under heavy overlap — it is a
                             repetition score, not a probability.
    - dup_5gram_frac       = 1 - distinct_5grams / total_5grams

    Lines are the non-empty pieces of the text split on newlines, tokens
    are TOKEN_RE matches, and a null text counts as empty. The
    pure-Catalyst expression form that the DuckDB oracle replays lives in
    tests/oracle/repetition_ref.py as the semantics spec.

    Why a Python kernel here, against the repo's JVM-first bias:
    Catalyst higher-order functions (transform/aggregate/array_sort
    folds) are CodegenFallback — interpreted per ELEMENT with per-call
    allocation — and this operator is nothing but such folds. Measured
    ~2ms/doc on ~300-char docs (r7, single task), vs ~25µs/doc for the
    batch kernel: a 100 TB corpus pays that 80× on every core. The
    kernel is still a pure row-local map over Arrow batches — zero
    shuffle, same scale shape. Outputs are IDENTICAL: counts are exact
    integers, each fraction is one int/int double division, Python
    `len` and Spark `length` both count code points, and Java and
    Python agree on the ASCII token regex (parity pinned by
    tests over unicode/newline/empty/null edge cases and the driver's
    repetition_docs oracle hash).
    """
    from pyspark.sql import types as T

    from louvain_spark.plans.fanout import apply_scan_fanout

    docs = apply_scan_fanout(docs)  # ~25-50µs/doc of kernel work per row

    id_type = docs.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("n_lines", T.IntegerType()),
            T.StructField("n_words", T.IntegerType()),
            T.StructField("dup_line_frac", T.DoubleType()),
            T.StructField("dup_line_char_frac", T.DoubleType()),
            T.StructField("top_bigram_char_frac", T.DoubleType()),
            T.StructField("dup_5gram_frac", T.DoubleType()),
        ]
    )
    sel = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )

    def gen(batches):
        import re
        from collections import Counter

        import pandas as pd

        tok_re = re.compile(TOKEN_RE)
        for pdf in batches:
            n_lines, n_words = [], []
            dlf, dlcf, tbcf, d5f = [], [], [], []
            for t in pdf["_t"]:
                lines = [l for l in t.split("\n") if l]
                nl = len(lines)
                dlines = set(lines)
                line_chars = sum(map(len, lines))
                dline_chars = sum(map(len, dlines))
                toks = tok_re.findall(t)
                nw = len(toks)
                word_chars = sum(map(len, toks))
                if nw >= 5:
                    n5 = nw - 4
                    d5 = len({tuple(toks[i : i + 5]) for i in range(n5)})
                else:
                    n5 = d5 = 0
                if nw >= 2:
                    cnt = Counter(zip(toks, toks[1:]))
                    best = max(c * (len(a) + len(b)) for (a, b), c in cnt.items())
                else:
                    best = 0
                n_lines.append(nl)
                n_words.append(nw)
                dlf.append((nl - len(dlines)) / max(nl, 1))
                dlcf.append((line_chars - dline_chars) / max(line_chars, 1))
                tbcf.append(best / max(word_chars, 1))
                d5f.append((n5 - d5) / max(n5, 1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_lines": pd.array(n_lines, dtype="int32"),
                    "n_words": pd.array(n_words, dtype="int32"),
                    "dup_line_frac": dlf,
                    "dup_line_char_frac": dlcf,
                    "top_bigram_char_frac": tbcf,
                    "dup_5gram_frac": d5f,
                }
            )

    return sel.mapInPandas(gen, schema)
