"""Web-corpus curation operators: URL/domain statistics, vocabulary
building, TF-IDF term extraction, and source-mix allocation.

Reference analog: the per-file counting/cleanup passes in the reference's
data scripts (the dedup cousin is /root/reference/data/south_china.py:7-16);
here they are declarative DataFrame transforms so Catalyst fuses the
row-local parts into the scan and the aggregations combine map-side.

All regexes live in the Java∩RE2 portable subset (no lookarounds, no
backreferences) so every operator has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from louvain_spark.operators.textstats import TOKEN_RE, lower_tokens
from louvain_spark.plans.rank import dense_sorted_rank

URL_RE = r"https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?"
DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def _domains(text_col):
    urls = F.regexp_extract_all(text_col, F.lit(URL_RE), 0)
    return F.transform(urls, lambda u: F.regexp_extract(u, DOMAIN_RE, 1))


def url_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_urls, n_domains, first_domain) — per-document URL
    counts and distinct host counts.

    Row-local regexp/array work only — zero shuffle; fuses into the scan
    at any scale.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    doms = _domains(t)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(doms).alias("n_urls"),
        F.size(F.array_distinct(doms)).alias("n_domains"),
        # F.get (0-based) not element_at: ANSI mode makes element_at RAISE
        # on out-of-bounds, so a URL-free doc would kill the job
        F.coalesce(F.get(doms, 0), F.lit("")).alias("first_domain"),
    )


def domain_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(domain, n_mentions, n_docs) — corpus-level host frequency table
    (the blocklist/mix-audit input every web-curation pipeline keeps).

    One explode + one groupBy: counts combine map-side; the distinct-doc
    count is Spark's standard two-phase partial-distinct aggregate keyed
    by domain — no row-level fan-in to the driver.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_domains(t)).alias("domain"),
    )
    return ex.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


def build_vocab(
    docs: DataFrame,
    top_k: int = 100,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(term_id, term, tf, df) — the corpus's top_k lowercased word terms
    with df >= min_df, contiguous ids in (tf DESC, term ASC) order — the
    deterministic tokenizer-vocabulary build step.

    Scale: term stats are one explode + one combinable groupBy; the
    global rank goes through plans.rank.dense_sorted_rank (range-
    partition + per-partition offsets) on a (-tf, term) struct key — the
    id assignment never funnels the vocabulary through one window task,
    so a 10M-term corpus ranks at full parallelism.
    """
    toks = lower_tokens(text_col)
    terms = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .where(F.col("df") >= min_df)
        .withColumn("_key", F.struct((-F.col("tf")).alias("ntf"), F.col("term")))
    )
    ranked = dense_sorted_rank(terms, "_key", id_col="term_id")[0]
    return ranked.where(F.col("term_id") < top_k).select(
        "term_id", "term", "tf", "df"
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, score, rn) — each document's top-k terms by
    smoothed TF-IDF (idf = ln((N+1)/(df+1)) + 1), deterministic
    tie-break on term.

    The score is rounded to 6 decimals BEFORE ranking: cross-engine
    (JVM vs any oracle) `ln` may differ in the last ulp, and rounding
    first means rank flips would need a true score gap < 5e-7 — far
    above ulp noise — so the output is engine-portable. Scale: tf and df
    are combinable aggregates; the doc↔term join shuffles on term (both
    sides already keyed); the per-doc top-k is a partitioned window
    (map-side WindowGroupLimit), never a global sort.
    """
    toks = lower_tokens(text_col)
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))  # 1-row fold
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_corpus") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "score", "rn")
    )


def mix_allocation(
    docs: DataFrame,
    targets: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, total_tokens, target_tokens, sample_rate,
    alloc_tokens) — static domain-mixing plan: per-source sampling rates
    that hit `token_budget * targets[source]` tokens, clamped at each
    source's availability (rate <= 1); unlisted sources get rate 0.

    This is the Pile-style static mix step: one combinable per-source
    aggregate plus a broadcast join against the (tiny) target table —
    the whole plan is O(|sources|) rows after the map-side combine, at
    any corpus size.
    """
    tok_n = F.size(
        F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(TOKEN_RE), 0
        )
    )
    per_source = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok_n.cast("long")).alias("total_tokens"),
    )
    tgt = docs.sparkSession.createDataFrame(
        sorted(targets.items()), "source string, target_frac double"
    )
    out = per_source.join(F.broadcast(tgt), "source", "left").select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.lit(float(token_budget)) * F.coalesce("target_frac", F.lit(0.0)))
        .cast("long")
        .alias("target_tokens"),
    )
    rate = F.least(
        F.lit(1.0),
        F.col("target_tokens") / F.greatest(F.col("total_tokens"), F.lit(1)),
    )
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        "target_tokens",
        F.round(rate, 6).alias("sample_rate"),
        F.least("target_tokens", "total_tokens").alias("alloc_tokens"),
    )
