"""Corpus curation operators: PII scrubbing and sequential filter funnels.

Reference analog: the ad-hoc per-file clean/filter passes in the
reference's data scripts (/root/reference/data/south_china.py:7-16 is the
dedup cousin); here they are declarative DataFrame transforms so Catalyst
fuses them into the scan.

Everything is JVM-side expressions from the Java∩RE2 portable regex
subset, so DuckDB can replay each operator as oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from louvain_spark.plans.gate import broadcast_or_shuffle

# Portable (Java regex == RE2) PII patterns. Deliberately conservative:
# ASCII word boundaries, no lookarounds, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"

# redaction order is part of the contract: emails first (an IP-looking
# host inside a kept email is then still caught by the IP pass), phones
# last (a phone can never contain a prior redaction token).
PII_PASSES = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, clean_text) — detect and redact
    emails / IPv4 addresses / NANP-style phone numbers.

    Counts are measured on the ORIGINAL text per category (independent
    signals for audit dashboards); `clean_text` applies the three
    redaction passes sequentially in PII_PASSES order. Pure row-local
    regexp work — zero shuffle, fuses into the scan at any scale.
    """
    from louvain_spark.plans.fanout import apply_scan_fanout

    docs = apply_scan_fanout(docs)  # 6 regex passes/row — scan-parallel wins
    t = F.coalesce(F.col(text_col), F.lit(""))
    clean = t
    counts = []
    for name, pat, token in PII_PASSES:
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
        )
        clean = F.regexp_replace(clean, pat, token)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, clean.alias("clean_text")
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    max_line_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text) — C4/CCNet-style boilerplate
    removal: drop every line whose normalized form (lower+trim) appears
    in MORE than `max_line_df` distinct documents (nav bars, footers,
    cookie banners — the lines that repeat across a web corpus), then
    reassemble the text in original line order. Empty lines are dropped
    on both sides of the count. Documents with no non-empty lines appear
    with n_lines=0 and clean_text='' (completeness contract).

    Scale: the line-DF count is Spark's two-phase distinct aggregate
    (partial (key, doc) dedup shuffles on both columns, so a footer in
    10^9 documents never converges on one task). Only the OFFENDER key
    set — lines with df > max_line_df, the small side by construction —
    joins back through the dimension-join gate (plans/gate.py): in the
    common broadcast regime the line table is never reshuffled by its
    skewed key. Reassembly is one per-doc aggregate; order restoration
    is array_sort on (pos, line) structs, no window.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    nonempty = F.filter(F.split(t, "\n"), lambda x: F.length(x) > 0)
    lines = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(nonempty).alias("pos", "line")
    ).withColumn("_key", F.lower(F.trim(F.col("line"))))
    bkeys = (
        lines.groupBy("_key")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .where(F.col("_df") > int(max_line_df))
        .select("_key")
        .localCheckpoint(eager=True)
    )
    flagged = lines.join(
        broadcast_or_shuffle(bkeys, bkeys.count()).withColumn("_boiler", F.lit(True)),
        "_key",
        "left",
    )
    keep = F.col("_boiler").isNull()
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
        # collect_list skips nulls, so dropped lines vanish here
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def filter_funnel(
    docs: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Sequential curation-funnel report: one row per rule with
    (rule_idx, rule, n_in, n_fail, n_out), where rule i is evaluated only
    over documents that passed rules 0..i-1 (the standard quality-filter
    funnel a training pipeline publishes next to its dataset card).

    A NULL predicate counts as FAIL (curation must be conservative).

    Scale note: ONE pass — every rule's boolean and the cumulative AND
    are row-local projections, and the whole funnel reduces in a single
    partially-aggregated `agg` (map-side combine ships k counters per
    partition, not rows). k rules do NOT cost k scans, and nothing is
    collected to the driver.
    """
    if not rules:
        raise ValueError("filter_funnel needs at least one rule")
    passing = F.lit(True)
    aggs = []
    for i, (_, pred) in enumerate(rules):
        before = passing
        passing = before & F.coalesce(pred.cast("boolean"), F.lit(False))
        aggs.append(
            F.coalesce(F.sum(before.cast("long")), F.lit(0)).alias(f"in_{i}")
        )
        aggs.append(
            F.coalesce(F.sum(passing.cast("long")), F.lit(0)).alias(f"out_{i}")
        )
    row = docs.agg(*aggs)
    rows = [
        F.struct(
            F.lit(i).alias("rule_idx"),
            F.lit(name).alias("rule"),
            F.col(f"in_{i}").alias("n_in"),
            (F.col(f"in_{i}") - F.col(f"out_{i}")).alias("n_fail"),
            F.col(f"out_{i}").alias("n_out"),
        )
        for i, (name, _) in enumerate(rules)
    ]
    return row.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
