"""Hub-salting evidence for co-occurrence induction (SURVEY §7 skew
fixture; r4 VERDICT 'what's missing' #2).

Fixture: a normal small corpus PLUS one pathological conversation with
thousands of turns whose membership rows all share one conv_id — the
exact shape that puts a whole conversation into a single join group in
the window=None self-join at 10^12-turn scale.

Evidence pinned here:
  1. exactness — salted and unsalted plans produce identical edges
     (salting is a pure plan change: each pair meets in exactly one
     salt bucket); the unsalted plan is the same call with
     SALT_THRESHOLD above every conversation;
  2. bounded per-task input — the hot conversation's left-side join
     groups split into SALT_BUCKETS hash groups, each within 2x of the
     balanced share |conv|/SALT_BUCKETS, while the unsalted plan has a
     single group of the full |conv| membership;
  3. the trigger — heavy_keys flags exactly the hot conversation at the
     configured threshold.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from louvain_spark.operators import induce
from louvain_spark.operators.induce import cooccurrence_edges, heavy_keys, membership
from louvain_spark.schema import TRANSCRIPTS
from louvain_spark.synth import transcripts_pandas

HOT_TURNS = 3000
SALT_BUCKETS = 8
SALT_THRESHOLD = 1000
# sqrt(TARGET_PAIRS)=1024 → nb = ceil(~7500/1024) = 8 blocks per dimension
TARGET_PAIRS = 1 << 20


@pytest.fixture(scope="module")
def skewed(spark):
    base = transcripts_pandas(n_conv=50, seed=7)
    hot = pd.DataFrame(
        {
            "conv_id": ["chot"] * HOT_TURNS,
            "turn_idx": list(range(HOT_TURNS)),
            "role": ["assistant" if i % 2 else "user" for i in range(HOT_TURNS)],
            "text": [f"turn chot:{i}" for i in range(HOT_TURNS)],
            # 5 hub tools cycling over every assistant turn
            "tool": [f"t{i % 5:03d}" if i % 2 else None for i in range(HOT_TURNS)],
            "ts": pd.to_datetime("2026-01-01") + pd.to_timedelta(range(HOT_TURNS), "s"),
        }
    )
    df = spark.createDataFrame(
        pd.concat([base, hot], ignore_index=True), schema=TRANSCRIPTS
    )
    return df.localCheckpoint(eager=True)


def test_heavy_keys_flags_only_hot_conv(spark, skewed):
    m = membership(skewed)
    flagged = heavy_keys(m, "conv_id", SALT_THRESHOLD).collect()
    assert [r["conv_id"] for r in flagged] == ["chot"]
    # membership rows for the hot conv: conv+role every turn, tool on
    # assistant turns → well above the threshold
    assert flagged[0]["count"] > SALT_THRESHOLD


def test_salted_equals_unsalted(spark, skewed, monkeypatch):
    monkeypatch.setattr(induce, "SALT_BUCKETS", SALT_BUCKETS)
    monkeypatch.setattr(induce, "SALT_TARGET_PAIRS", TARGET_PAIRS)
    monkeypatch.setattr(induce, "SALT_THRESHOLD", SALT_THRESHOLD)
    _, salted = cooccurrence_edges(skewed)
    # a turn has at most 3 membership rows and no conversation has more
    # than HOT_TURNS turns, so nothing is salted
    monkeypatch.setattr(induce, "SALT_THRESHOLD", 3 * HOT_TURNS)
    _, plain = cooccurrence_edges(skewed)
    key = lambda r: (r["src"], r["dst"])  # noqa: E731
    s_rows = sorted(salted.collect(), key=key)
    p_rows = sorted(plain.collect(), key=key)
    assert [
        (r["src"], r["dst"], r["weight"], list(r["etypes"])) for r in s_rows
    ] == [(r["src"], r["dst"], r["weight"], list(r["etypes"])) for r in p_rows]
    assert len(s_rows) > 0


def test_salting_bounds_per_task_group(spark, skewed):
    """Replay the salted plan's 2-D block coordinates over the hot
    conversation's membership: each dimension splits into nb hash blocks
    (hash of the occurrence ROW — id alone would leave a dominant
    entity's rows in one block) each within 2x of the balanced share, so
    every (conv, _ia, _ib) join cell's per-side input is bounded at
    ~rows/nb and its pair work at ~SALT_TARGET_PAIRS — vs one full-size
    group computing the whole quadratic output unsalted."""
    import math

    from louvain_spark.operators.induce import _with_ids, entity_vertices

    m = membership(skewed)
    verts = entity_vertices(m)
    mi = _with_ids(m, verts).select("conv_id", "turn_idx", "id")
    hot = mi.where(F.col("conv_id") == "chot")
    n_hot = hot.count()
    nb = min(
        SALT_BUCKETS, max(2, math.ceil(n_hot / math.sqrt(TARGET_PAIRS)))
    )
    assert nb == SALT_BUCKETS  # fixture sized so the cap binds
    groups = (
        hot.select(
            F.pmod(F.xxhash64("id", "turn_idx"), F.lit(nb)).cast("int").alias("_s")
        )
        .groupBy("_s")
        .count()
        .collect()
    )
    sizes = {r["_s"]: r["count"] for r in groups}
    assert sum(sizes.values()) == n_hot
    assert len(sizes) == nb
    balanced = n_hot / nb
    assert max(sizes.values()) <= 2 * balanced, (
        f"hot-conv salt blocks unbalanced: {sizes} vs balanced {balanced:.0f}"
    )
    # the unsalted plan would put all n_hot rows in ONE join group
    assert n_hot > SALT_THRESHOLD
