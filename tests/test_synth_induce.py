"""Synth generator determinism + transcripts→edges induction correctness,
including the per-turn text round-trip invariant (BASELINE.json input_hint)."""

import itertools

import pandas as pd
from pyspark.sql import functions as F

from louvain_spark.operators.induce import cooccurrence_edges, entity_vertices, membership
from louvain_spark.synth import transcripts_df, transcripts_pandas


def test_synth_deterministic():
    a = transcripts_pandas(n_conv=50, seed=42)
    b = transcripts_pandas(n_conv=50, seed=42)
    pd.testing.assert_frame_equal(a, b)
    c = transcripts_pandas(n_conv=50, seed=43)
    assert not a.equals(c)


def test_text_roundtrip_byte_equal(spark):
    """input_hint invariant: per-turn text byte-equal under stable
    (conv_id, turn_idx) ordering after a spark round-trip."""
    pdf = transcripts_pandas(n_conv=30, seed=42)
    df = transcripts_df(spark, n_conv=30, seed=42)
    back = (
        df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    orig = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(back["text"]) == list(orig["text"])
    assert [bytes(t, "utf-8") for t in back["text"]] == [
        bytes(t, "utf-8") for t in orig["text"]
    ]


def _brute_edges(pdf, window=None, include_conv=True):
    """Pure-python oracle for co-occurrence induction."""
    mem = []
    for r in pdf.itertuples():
        ents = []
        if r.tool is not None and not pd.isna(r.tool):
            ents.append(f"tool:{r.tool}")
        ents.append(f"role:{r.role}")
        if include_conv:
            ents.append(f"conv:{r.conv_id}")
        for e in ents:
            mem.append((r.conv_id, int(r.turn_idx), e))
    names = sorted({e for _, _, e in mem})
    ids = {n: i for i, n in enumerate(names)}
    pair_convs = {}
    by_conv = {}
    for c, t, e in mem:
        by_conv.setdefault(c, []).append((t, ids[e]))
    for c, occ in by_conv.items():
        for (t1, a), (t2, b) in itertools.combinations(occ, 2):
            if a == b:
                continue
            if window is not None and abs(t1 - t2) > window:
                continue
            key = (min(a, b), max(a, b))
            pair_convs.setdefault(key, set()).add(c)
    return names, {k: float(len(v)) for k, v in pair_convs.items()}


def test_cooccurrence_matches_brute(spark):
    pdf = transcripts_pandas(n_conv=40, seed=42)
    df = transcripts_df(spark, n_conv=40, seed=42)
    names, want = _brute_edges(pdf)
    verts, edges = cooccurrence_edges(df)
    got_v = {r["id"]: r["name"] for r in verts.collect()}
    assert [got_v[i] for i in range(len(names))] == names
    got = {(r["src"], r["dst"]): r["weight"] for r in edges.collect()}
    assert got == want


def test_cooccurrence_windowed_matches_brute(spark):
    pdf = transcripts_pandas(n_conv=40, seed=11)
    df = transcripts_df(spark, n_conv=40, seed=11)
    for w in (0, 1, 3, 7):
        _, want = _brute_edges(pdf, window=w)
        _, edges = cooccurrence_edges(df, window=w)
        got = {(r["src"], r["dst"]): r["weight"] for r in edges.collect()}
        assert got == want, f"window={w}"


def test_etypes_correct_for_noncontiguous_vertex_ids(spark):
    """A caller-supplied vertex table whose ids are NOT dense name-sorted
    ranks must still get correct etypes (dictionary-join fallback — the
    id-range shortcut is validated before use)."""
    t = transcripts_df(spark, preset="tiny")
    verts = entity_vertices(membership(t))
    scrambled = verts.select((F.col("id") * 7 + 3).alias("id"), "name", "vtype")
    _, e1 = cooccurrence_edges(t, vertices=verts, window=4)
    _, e2 = cooccurrence_edges(t, vertices=scrambled, window=4)
    m1 = {(r["src"], r["dst"]): (r["weight"], tuple(r["etypes"])) for r in e1.collect()}
    m2 = {(r["src"], r["dst"]): (r["weight"], tuple(r["etypes"])) for r in e2.collect()}
    assert m2 == {(7 * a + 3, 7 * b + 3): v for (a, b), v in m1.items()}
