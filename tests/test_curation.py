"""Unit tests for curation operators: PII scrubbing, filter funnel, and
Gopher-style repetition signals (hand-computed expectations)."""

import pytest
from pyspark.sql import functions as F

from louvain_spark.operators.curation import filter_funnel, pii_scrub
from louvain_spark.operators.textstats import repetition_scores


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (1, "mail a.b+c@ex-ample.co.uk now 192.168.0.1 and 555-123-4567 or 1.2.3.4"),
        (2, "no pii here, just 1234.5.6.7 digits"),  # no \b before the dot run
        (3, None),
        (4, "two mails x@y.io z@w.ai and a spaced phone 800 555 1234"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}

    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 2, 1)
    assert got[1]["clean_text"] == "mail <EMAIL> now <IP> and <PHONE> or <IP>"
    # 1234.5.6.7: no word boundary splits the leading 4-digit run
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
    assert got[2]["clean_text"] == rows[1][1]
    # null text -> zero counts, empty clean_text (conservative coalesce)
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (0, 0, 0)
    assert got[3]["clean_text"] == ""
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (2, 0, 1)
    assert got[4]["clean_text"] == "two mails <EMAIL> <EMAIL> and a spaced phone <PHONE>"


def test_pii_scrub_zero_shuffle_plan(spark):
    # per-doc scrubbing must stay a pure projection: no Exchange anywhere
    df = spark.createDataFrame([(1, "a@b.io")], "doc_id int, text string")
    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_filter_funnel_sequential_and_null_fail(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, None), (0, 5), (2, 0)], "a int, b int"
    )
    out = filter_funnel(
        df, [("a_pos", F.col("a") > 0), ("b_gt1", F.col("b") > 1)]
    ).collect()
    by_idx = {r["rule_idx"]: r for r in out}
    assert len(out) == 2
    r0, r1 = by_idx[0], by_idx[1]
    assert (r0["rule"], r0["n_in"], r0["n_fail"], r0["n_out"]) == ("a_pos", 4, 1, 3)
    # NULL predicate (b is NULL) counts as FAIL, and rule 1 sees only
    # rule-0 survivors
    assert (r1["rule"], r1["n_in"], r1["n_fail"], r1["n_out"]) == ("b_gt1", 3, 2, 1)


def test_filter_funnel_empty_rules_raises(spark):
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(ValueError):
        filter_funnel(df, [])


def test_filter_funnel_empty_input(spark):
    df = spark.createDataFrame([], "a int")
    out = filter_funnel(df, [("a_pos", F.col("a") > 0)]).collect()
    assert len(out) == 1
    assert (out[0]["n_in"], out[0]["n_fail"], out[0]["n_out"]) == (0, 0, 0)


def test_repetition_scores_hand_computed(spark):
    rows = [
        (1, "aa bb\naa bb\ncc dd cc dd cc dd"),
        (2, "x y x y x y x y"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in repetition_scores(df).collect()}

    r = got[1]
    # lines: [aa bb, aa bb, cc dd cc dd cc dd] -> 1 dup line of 3
    assert (r["n_lines"], r["n_words"]) == (3, 10)
    assert r["dup_line_frac"] == pytest.approx(1 / 3)
    # dup line chars = 5 of 27 total line chars
    assert r["dup_line_char_frac"] == pytest.approx(5 / 27)
    # top bigram 'cc dd' occurs 3x, 4 token chars each; word chars = 20
    assert r["top_bigram_char_frac"] == pytest.approx(12 / 20)
    # all six 5-grams distinct
    assert r["dup_5gram_frac"] == 0.0

    r = got[2]
    assert (r["n_lines"], r["n_words"]) == (1, 8)
    # 'x y' occurs 4x at 2 token chars; word chars = 8
    assert r["top_bigram_char_frac"] == pytest.approx(1.0)
    # 5-grams: [xyxyx, yxyxy] * 2 -> 2 dups of 4
    assert r["dup_5gram_frac"] == pytest.approx(0.5)

    for doc in (3, 4):  # null/empty text -> all-zero signals, no NaN/null
        r = got[doc]
        assert (r["n_lines"], r["n_words"]) == (0, 0)
        for c in (
            "dup_line_frac",
            "dup_line_char_frac",
            "top_bigram_char_frac",
            "dup_5gram_frac",
        ):
            assert r[c] == 0.0


def test_repetition_scores_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "a b a b")], "doc_id int, text string")
    plan = repetition_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_strip_boilerplate_lines(spark):
    from louvain_spark.operators.curation import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nCopyright Footer\nbody one"),
            (2, "body two\ncopyright footer "),   # case+trim same key
            (3, "COPYRIGHT FOOTER\nbody three"),
            (4, "copyright footer"),               # all lines boilerplate
            (5, ""),
            (6, None),
            (7, "solo\n\n\nlines"),                # empty lines dropped
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(docs, max_line_df=2).collect()
    }
    # footer key appears in 4 docs > 2 -> dropped; order preserved
    assert got[1]["clean_text"] == "unique alpha\nbody one"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (3, 2)
    assert got[2]["clean_text"] == "body two"
    assert got[3]["clean_text"] == "body three"
    assert (got[4]["n_lines"], got[4]["n_kept"], got[4]["clean_text"]) == (1, 0, "")
    for d in (5, 6):
        assert (got[d]["n_lines"], got[d]["n_kept"], got[d]["clean_text"]) == (
            0, 0, "",
        )
    assert got[7]["clean_text"] == "solo\nlines"
    assert (got[7]["n_lines"], got[7]["n_kept"]) == (2, 2)


def test_strip_boilerplate_threshold_keeps_under_df(spark):
    from louvain_spark.operators.curation import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "shared\nmine"), (2, "shared\nyours")], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_lines(docs, max_line_df=2).collect()
    }
    # df('shared') == 2 == max_line_df -> kept on both
    assert got[1] == "shared\nmine" and got[2] == "shared\nyours"


def test_strip_boilerplate_offender_join_broadcast_gate(spark, monkeypatch):
    from louvain_spark.operators.curation import strip_boilerplate_lines
    from louvain_spark.plans import gate

    docs = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb"), (3, "shared\nc")],
        "doc_id int, text string",
    )
    plan = (
        strip_boilerplate_lines(docs, max_line_df=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    # forced shuffle path (BROADCAST_MAX_ROWS=0) must produce identical rows
    a = sorted(map(tuple, strip_boilerplate_lines(docs, max_line_df=2).collect()))
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    forced = strip_boilerplate_lines(docs, max_line_df=2)
    plan_f = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_f.split("== Final Plan ==")[-1], plan_f
    assert sorted(map(tuple, forced.collect())) == a


def test_repetition_scores_arrow_matches_expr(spark):
    """The Arrow batch kernel must reproduce the Catalyst expression spec
    (tests/oracle/repetition_ref.py) bit-for-bit — including unicode/multibyte text
    (code-point lengths), astral-plane chars, apostrophe tokens,
    newline-only and null/empty docs, and <2/<5-token edges."""
    rows = [
        (1, "aa bb\naa bb\ncc dd cc dd cc dd"),
        (2, "x y x y x y x y"),
        (3, None),
        (4, ""),
        (5, "   \n\n  "),
        (6, "héllo wörld héllo wörld héllo"),
        (7, "日本語のテキスト\n日本語のテキスト\nabc def abc def abc"),
        (8, "one_token"),
        (9, "a b c d"),
        (10, "don't stop don't stop don't stop me now"),
        (11, "𝄞clef 𝄞clef text text text text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from tests.oracle.repetition_ref import repetition_scores_expr

    a = {r["doc_id"]: r.asDict() for r in repetition_scores(df).collect()}
    b = {r["doc_id"]: r.asDict() for r in repetition_scores_expr(df).collect()}
    assert a == b
