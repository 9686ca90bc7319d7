"""Repetition-signal spec: repetition_scores as Catalyst expressions.

This is the form the DuckDB oracle replays (the repetition_docs query);
tests compare the Arrow kernel in operators/textstats.repetition_scores
with it. The signal definitions are in that function's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from louvain_spark.operators.textstats import TOKEN_RE


def repetition_scores_expr(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """repetition_scores' columns, each computed row-locally with array
    HOFs (split / transform / aggregate / array_distinct): no explode, no
    groupBy, zero shuffle. The top-bigram count uses an O(n log n) sort
    and one fold, not an O(n*distinct) filter per element.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # --- lines -----------------------------------------------------------
    lines = F.filter(F.split(t, r"\n"), lambda x: F.length(x) > 0)
    nl = F.size(lines)
    dl = F.size(F.array_distinct(lines))
    sum_chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    line_chars = sum_chars(lines)
    dline_chars = sum_chars(F.array_distinct(lines))
    # --- word n-grams ----------------------------------------------------
    toks = F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)
    nw = F.size(toks)
    word_chars = sum_chars(toks)
    ngrams = lambda n: F.when(  # noqa: E731
        nw >= n,
        F.transform(
            F.sequence(F.lit(1), nw - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = ngrams(2)
    five = ngrams(5)
    n5 = F.size(five)
    d5 = F.size(F.array_distinct(five))
    # max over distinct bigrams of count*token_chars: sort, then one fold
    # tracking the current run; token chars of 'a b' = length - 1 space.
    top_bi = F.aggregate(
        F.array_sort(bi),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long"))
                * (F.length(x) - 1).cast("long"),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    g = lambda d: F.greatest(d, F.lit(1)).cast("double")  # noqa: E731
    return docs.select(
        F.col(id_col).alias("doc_id"),
        nl.alias("n_lines"),
        nw.alias("n_words"),
        ((nl - dl) / g(nl)).alias("dup_line_frac"),
        ((line_chars - dline_chars) / g(line_chars)).alias("dup_line_char_frac"),
        (top_bi / g(word_chars)).alias("top_bigram_char_frac"),
        ((n5 - d5) / g(n5)).alias("dup_5gram_frac"),
    )
