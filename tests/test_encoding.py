"""Unit tests for corpus encoding: bulk tokenization against a vocab and
the in-corpus bigram-LM quality score, checked against a pure-python
reference implementation."""

import math
import re

from louvain_spark.operators.encoding import bigram_lm_scores, encode_documents
from louvain_spark.operators.textstats import TOKEN_RE
from louvain_spark.operators.webstats import build_vocab

DOCS = [
    (1, "The cat the cat sat"),
    (2, ""),
    (3, "one"),
    (4, None),
    (5, "cat sat on the MAT and the cat sat"),
]


def _py_tokens(text):
    return [t.lower() for t in re.findall(TOKEN_RE, text or "")]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def _py_vocab(top_k=100, min_df=1):
    tf, df = {}, {}
    for _, text in DOCS:
        toks = _py_tokens(text)
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    terms = sorted(
        (t for t in tf if df[t] >= min_df), key=lambda t: (-tf[t], t)
    )
    return {t: i for i, t in enumerate(terms[:top_k])}


def test_encode_documents_matches_python(spark):
    docs = _docs(spark)
    vocab = build_vocab(docs, top_k=100, min_df=1)
    got = {r["doc_id"]: r for r in encode_documents(docs, vocab).collect()}
    pyv = _py_vocab()
    for doc_id, text in DOCS:
        toks = _py_tokens(text)
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["token_ids"] == [pyv.get(t, -1) for t in toks]


def test_encode_documents_oov_and_unk_id(spark):
    docs = _docs(spark)
    # min_df=2 drops singletons -> they must encode to the unk id
    vocab = build_vocab(docs, top_k=100, min_df=2)
    pyv = _py_vocab(min_df=2)
    got = {
        r["doc_id"]: r
        for r in encode_documents(docs, vocab, unk_id=-7).collect()
    }
    enc5 = got[5]["token_ids"]
    assert enc5 == [pyv.get(t, -7) for t in _py_tokens(DOCS[4][1])]
    assert -7 in enc5  # 'on'/'mat'/'and' are singleton OOVs
    # empty / null docs come back complete with empty arrays
    assert got[2]["token_ids"] == [] and got[2]["n_tokens"] == 0
    assert got[4]["token_ids"] == [] and got[4]["n_tokens"] == 0


def _py_lm_scores(k=0.5):
    uni, big = {}, {}
    doc_bgs = {}
    for doc_id, text in DOCS:
        toks = _py_tokens(text)
        bgs = list(zip(toks, toks[1:]))
        doc_bgs[doc_id] = bgs
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        for b in bgs:
            big[b] = big.get(b, 0) + 1
    v = len(uni)
    nll_u = {
        b: round(-math.log((c + k) / (uni[b[0]] + k * v)) * 1e6)
        for b, c in big.items()
    }
    out = {}
    for doc_id, bgs in doc_bgs.items():
        s = sum(nll_u[b] for b in bgs)
        score = round(s / len(bgs) / 1e6, 6) if bgs else None
        out[doc_id] = (len(bgs), s, score)
    return out


def test_bigram_lm_scores_matches_python(spark):
    got = {r["doc_id"]: r for r in bigram_lm_scores(_docs(spark)).collect()}
    ref = _py_lm_scores()
    for doc_id, (n, s, score) in ref.items():
        r = got[doc_id]
        assert (r["n_bigrams"], r["sum_nll_u"]) == (n, s)
        if score is None:
            assert r["score"] is None
        else:
            assert abs(r["score"] - score) < 1e-9


def test_bigram_lm_repeated_text_scores_lower(spark):
    # a doc made of one repeated bigram must be more predictable (lower
    # mean NLL) than a doc of all-distinct transitions in the same corpus
    docs = spark.createDataFrame(
        [(1, "go stop " * 20), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bigram_lm_scores(docs).collect()}
    assert got[1] < got[2]


def test_encode_vocab_join_broadcast_gate(spark, monkeypatch):
    from louvain_spark.operators.webstats import build_vocab
    from louvain_spark.plans import gate

    docs = _docs(spark)
    vocab = build_vocab(docs, top_k=100, min_df=1)
    # below the gate: the dictionary join must be a broadcast (the line
    # table is never reshuffled by term)
    plan = (
        encode_documents(docs, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    # above the gate (forced with BROADCAST_MAX_ROWS=0): shuffle join, and
    # output identical
    small = encode_documents(docs, vocab).collect()
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    forced = encode_documents(docs, vocab)
    plan_f = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_f.split("== Final Plan ==")[-1], plan_f
    assert sorted(map(tuple, forced.collect())) == sorted(map(tuple, small))
