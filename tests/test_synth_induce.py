"""Synth generator determinism + transcripts→edges induction correctness,
including the per-turn text round-trip invariant (BASELINE.json input_hint).

Windowed induction runs on both sides of gate.ONE_BLOCK_MAX_EDGES: one
applyInPandas task at or below it (every input here), the banded join
above it; both must equal the brute-force oracle and each other."""

import datetime
import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from louvain_spark.operators.induce import cooccurrence_edges, entity_vertices, membership
from louvain_spark.synth import transcripts_df, transcripts_pandas
from tests.conftest import local_df, on_both_sides, use_gate_side

SIDES = ("one_block", "distributed")


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


def test_cooccurrence_matches_brute(spark, monkeypatch):
    """A window as long as the longest conversation pairs every two
    entities of a conversation: the unwindowed oracle."""
    pdf = transcripts_pandas(n_conv=40, seed=42)
    df = transcripts_df(spark, n_conv=40, seed=42)
    names, want = _brute_edges(pdf)
    window = int(pdf["turn_idx"].max() - pdf["turn_idx"].min())
    for side in SIDES:
        use_gate_side(monkeypatch, side)
        verts, edges = cooccurrence_edges(df, window=window)
        got_v = {r["id"]: r["name"] for r in verts.collect()}
        assert [got_v[i] for i in range(len(names))] == names, side
        got = {(r["src"], r["dst"]): r["weight"] for r in edges.collect()}
        assert got == want, side


def _names(verts):
    got = {r["id"]: r["name"] for r in verts.collect()}
    return [got[i] for i in range(len(got))]


def _weights(edges):
    return {(r["src"], r["dst"]): r["weight"] for r in edges.collect()}


def test_cooccurrence_windowed_matches_brute(spark, monkeypatch):
    pdf = transcripts_pandas(n_conv=40, seed=11)
    df = transcripts_df(spark, n_conv=40, seed=11)
    for side in SIDES:
        use_gate_side(monkeypatch, side)
        for w in (0, 1, 3, 7):
            names, want = _brute_edges(pdf, window=w)
            verts, edges = cooccurrence_edges(df, window=w)
            assert _names(verts) == names, (side, w)
            assert _weights(edges) == want, (side, w)


def test_etypes_correct_for_noncontiguous_vertex_ids(spark, monkeypatch):
    """A caller-supplied vertex table whose ids are NOT dense name-sorted
    ranks must still get correct etypes (dictionary-join fallback — the
    id-range shortcut is validated before use), on both gate sides."""
    t = transcripts_df(spark, preset="tiny")
    verts = entity_vertices(membership(t))
    scrambled = verts.select((F.col("id") * 7 + 3).alias("id"), "name", "vtype")
    for side in SIDES:
        use_gate_side(monkeypatch, side)
        _, e1 = cooccurrence_edges(t, vertices=verts, window=4)
        _, e2 = cooccurrence_edges(t, vertices=scrambled, window=4)
        m1 = {(r["src"], r["dst"]): (r["weight"], tuple(r["etypes"])) for r in e1.collect()}
        m2 = {(r["src"], r["dst"]): (r["weight"], tuple(r["etypes"])) for r in e2.collect()}
        assert m2 == {(7 * a + 3, 7 * b + 3): v for (a, b), v in m1.items()}, side


def test_gate_sides_give_equal_vertices_and_edges(spark, monkeypatch):
    """Both gate sides give the same vertex and edge rows, etypes
    included (exceptAll both ways), with and without a scrambled caller
    dictionary; below the gate the edges read one snapshot, with no join
    or exchange left in their plan."""
    t = transcripts_df(spark, n_conv=120, seed=2).localCheckpoint(eager=True)
    verts = entity_vertices(membership(t))
    scrambled = verts.select((F.col("id") * 7 + 3).alias("id"), "name", "vtype")
    for kw in ({"window": 8}, {"window": 4, "vertices": scrambled}):
        got = {}
        for side in SIDES:
            use_gate_side(monkeypatch, side)
            got[side] = cooccurrence_edges(t, **kw)
        for a, b in zip(got["one_block"], got["distributed"]):
            assert a.count() > 0
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, kw
        plan = got["one_block"][1]._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan, plan


@pytest.mark.parametrize("gate_side", SIDES, indirect=True)
def test_dictionary_lacking_entities_drops_their_pairs(spark, gate_side):
    """With a caller dictionary that lacks some entities, their rows drop
    out (the inner join's semantics): the other pairs keep their ids and
    weights."""
    pdf = transcripts_pandas(n_conv=40, seed=5)
    t = transcripts_df(spark, n_conv=40, seed=5)
    names, full = _brute_edges(pdf, window=3)
    dropped = {"role:user", names[-1]}
    gone = {i for i, n in enumerate(names) if n in dropped}
    verts = entity_vertices(membership(t)).where(~F.col("name").isin(*dropped))
    v, edges = cooccurrence_edges(t, vertices=verts, window=3)
    assert _weights(edges) == {k: w for k, w in full.items() if not gone & set(k)}
    assert v.count() == len(names) - 2


def _transcripts(spark, rows):
    """A transcripts frame from (conv_id, turn_idx, role, tool) rows."""
    ts = datetime.datetime(2026, 1, 1)
    return local_df(
        spark,
        [(c, t, r, f"turn {c}:{t}", tool, ts) for c, t, r, tool in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


# adversarial transcripts: (conv_id, turn_idx, role, tool) rows
_ADVERSARIAL = {
    "empty": [],
    "one_conversation": [("c0", i, ("user", "assistant")[i % 2], f"t{i % 3}") for i in range(9)],
    "null_tools": [(f"c{i % 3}", i, "user", None) for i in range(12)],
    "repeated_turn": [
        ("c0", 0, "user", "a"), ("c0", 0, "assistant", "b"), ("c0", 0, "user", "c"),
        ("c0", 2, "tool", "a"), ("c0", 2, "user", None), ("c0", 5, "assistant", "d"),
        ("c1", 1, "user", "b"), ("c1", 1, "user", "b"),
    ],
    # code-point (= UTF-8 byte) order differs from UTF-16 order between
    # U+FFFD and U+1F600: the ids must follow the former
    "non_ascii": [
        ("c\u00e9", 0, "user", "\u00e9"), ("c\u00e9", 1, "assistant", "\ufffd"),
        ("c\u00e9", 2, "user", "\U0001f600"), ("c\U0001f600", 0, "user", "z"),
        ("c\U0001f600", 1, "assistant", "\U0001f600"), ("c\U0001f600", 2, "user", "\ufffd"),
        ("cz", 0, "user", "\u00e9"), ("cz", 3, "assistant", "a"),
    ],
}


@pytest.mark.parametrize(
    "case,gate_side", on_both_sides(list(_ADVERSARIAL)), indirect=["gate_side"]
)
def test_adversarial_transcripts_match_brute(spark, case, gate_side):
    rows = _ADVERSARIAL[case]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "tool"])
    t = _transcripts(spark, rows).localCheckpoint(eager=True)
    for w in (0, 1, 3):
        names, want = _brute_edges(pdf, window=w)
        verts, edges = cooccurrence_edges(t, window=w)
        assert _names(verts) == names, w
        assert _weights(edges) == want, w
