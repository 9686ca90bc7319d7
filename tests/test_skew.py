"""Skew-path tests: hub conversations and hub entities (SURVEY §4.3)."""

import numpy as np
import pandas as pd

from louvain_spark.operators.induce import cooccurrence_edges
from louvain_spark.schema import TRANSCRIPTS
from tests.conftest import use_gate_side


def _long_conv(spark, n_turns=2000, n_tools=5):
    """One pathological conversation with n_turns turns (the quadratic
    co-occurrence risk the turn-window cap bounds)."""
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "conv_id": ["cbig"] * n_turns,
            "turn_idx": np.arange(n_turns, dtype=np.int32),
            "role": ["user", "assistant"] * (n_turns // 2),
            "text": [f"t{i}" for i in range(n_turns)],
            "tool": [
                f"t{rng.randint(n_tools):03d}" if i % 2 else None
                for i in range(n_turns)
            ],
            "ts": pd.to_datetime("2026-01-01") + pd.to_timedelta(np.arange(n_turns), "s"),
        }
    )
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


def test_windowed_induction_bounds_hub_conversation(spark):
    t = _long_conv(spark, n_turns=2000)
    _, edges = cooccurrence_edges(t, window=3)
    rows = edges.collect()
    # entity universe: 1 conv + 2-3 roles + ≤5 tools → ≤ C(9,2) pairs
    assert 0 < len(rows) <= 45
    # weight = distinct convs = 1 for every pair (single conversation)
    assert all(r["weight"] == 1.0 for r in rows)


def test_windowed_vs_unwindowed_pair_counts(spark, monkeypatch):
    """The window cap must strictly reduce the candidate pair volume on a
    long conversation (the 10^12-turn tractability argument); a window as
    long as the conversation is the unwindowed count."""
    t = _long_conv(spark, n_turns=400)
    for side in ("one_block", "distributed"):
        use_gate_side(monkeypatch, side)
        _, capped = cooccurrence_edges(t, window=2)
        _, full = cooccurrence_edges(t, window=400)
        assert capped.count() <= full.count(), side
