"""Transcripts → entity membership → co-occurrence edge induction.

The load-bearing construction (SURVEY.md §1.2, §2.3 J1): vertices are
conv/tool/role entities; two entities that co-occur within the same
conversation (optionally within a bounded turn window) get an undirected
edge weighted by the number of DISTINCT conversations in which they
co-occur — the transposition of the reference's common-neighbor count
(/root/reference/tool/Neo4jLouvainProcessor.py:183-210: pairs of What
nodes weighted by COUNT(DISTINCT common entity)).

Scale notes (10^12-turn design):
- the pair join is keyed on conv_id; a single huge conversation is the
  skew risk. The turn-window cap bounds per-turn fan-out to O(window),
  and the banded join (bucket = turn_idx // window) keeps each join
  group at O(window) rows instead of O(conversation length).
- distinct-conv weighting is computed as select(src,dst,conv).distinct()
  → count, so the wide shuffle key includes conv_id (no hot key), and the
  final groupBy(src,dst) count enjoys map-side partial aggregation.
- vertex ids: dense sorted rank — deterministic across runs/cluster
  sizes (monotonically_increasing_id is partition-dependent and would
  break parity). The global sort is over the *entity dictionary* (tiny
  relative to the corpus: |tools|+|roles|+|convs|), not the turn table.

Below the gate (window given, membership plus caller-dictionary rows at
or below plans/gate.ONE_BLOCK_MAX_EDGES) the same (vertices, edges) come
from one applyInPandas task (induce_kernel): at that size the banded
plan's ~25 stages of latency, not its pair work, are the cost. The gate
counts rows, so no 10^12-turn input ever takes this path.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from louvain_spark.plans import gate
from louvain_spark.plans.gate import broadcast_or_shuffle

# hub salting of the unwindowed pair join (cooccurrence_edges): a
# conversation with more than SALT_THRESHOLD membership rows splits into
# at most SALT_BUCKETS blocks of ~SALT_TARGET_PAIRS pair work each
SALT_BUCKETS = 256
SALT_THRESHOLD = 65536
SALT_TARGET_PAIRS = 1 << 26


def membership(transcripts: DataFrame) -> DataFrame:
    """Explode transcripts into (conv_id, turn_idx, entity, etype) rows:
    the turn's tool (when not null), its role and its conversation.

    The analog of the reference's What→entity edges
    (/root/reference/tool/upload.py:118-163), done with explode over a
    struct array — pure Catalyst, no Python.
    """
    def entity(etype: str, col: str):
        name = F.concat(F.lit(f"{etype}:"), F.col(col)).alias("entity")
        return F.struct(name, F.lit(etype).alias("etype"))

    parts = [
        F.when(F.col("tool").isNotNull(), entity("tool", "tool")),
        entity("role", "role"),
        entity("conv", "conv_id"),
    ]
    ent = F.explode(F.array(*parts)).alias("e")
    out = transcripts.select("conv_id", "turn_idx", ent)
    return out.where(F.col("e").isNotNull()).select(
        "conv_id", "turn_idx", F.col("e.entity").alias("entity"), F.col("e.etype").alias("etype")
    )


def heavy_keys(df: DataFrame, key_col: str, min_count: int) -> DataFrame:
    """(key, count) of the keys with more than min_count rows — the
    salting trigger of cooccurrence_edges' unwindowed self-join: a key
    above the bound would put > min_count rows into one join group."""
    return (
        df.groupBy(key_col)
        .count()
        .where(F.col("count") > min_count)
        .select(key_col, "count")
    )


def entity_vertices(mem: DataFrame) -> DataFrame:
    """Distinct entities with stable dense ids (sorted-name rank, 0-based).

    Uses the shared two-phase distributed rank (plans/rank.py) — exactly
    the global-sort rank, no single-partition window. Deterministic and
    cluster-size-independent (never monotonically_increasing_id).
    """
    return _entity_dictionary(mem)[0]


def _entity_dictionary(mem: DataFrame) -> tuple[DataFrame, int]:
    """(entity_vertices(mem), its row count, observed by the rank)."""
    from louvain_spark.plans.rank import dense_sorted_rank

    ents = mem.select("entity", "etype").distinct()
    ranked, n = dense_sorted_rank(ents, "entity")
    return ranked.select(
        "id", F.col("entity").alias("name"), F.col("etype").alias("vtype")
    ), n


def _with_ids(mem: DataFrame, vertices: DataFrame, rows: int | None = None) -> DataFrame:
    """Attach vertex ids to membership rows via the entity dictionary.

    The dictionary is O(|entities|), which includes one conv: entity per
    conversation — broadcastable at test scale but ~10^10 rows at the
    10^12-turn design point, far past any broadcast. Same count-gated
    auto-choice as every other dimension join (plans/gate.py): broadcast
    while small, shuffled-hash join on entity name above the gate (entity
    names hash uniformly). `rows` is the dictionary's row count when the
    caller holds it (the rank observes it); otherwise it is counted here.
    """
    if rows is None:
        rows = vertices.count()
    d = vertices.select(F.col("name").alias("entity"), "id", F.col("vtype"))
    return mem.join(broadcast_or_shuffle(d, rows), "entity")


def induce_kernel(pdf: pd.DataFrame, window: int, given: bool) -> pd.DataFrame:
    """cooccurrence_edges' banded plan over one task's rows: membership
    rows (_k = 0: conv_id, turn_idx, entity, vtype) and, when `given`,
    the caller's dictionary (_k = 1: entity = name, id, vtype).

    Ids: without a dictionary, the rank of the sorted unique entity names
    (Python's code-point order is Spark's UTF-8 binary order, so they are
    entity_vertices' ids); with one, each name's id by searchsorted over
    the dictionary sorted by name, and a name it lacks drops its rows, as
    the inner join does. Pairs: with the rows sorted by (conv, turn), row
    i pairs with row i + k for k = 1, 2, … while the conversation is the
    same and Δturn ≤ window; the first k with no such pair ends the scan,
    since every longer offset spans it. Weight: the number of distinct
    (src, dst, conv) per canonical (src, dst), by np.unique over packed
    keys, deduplicated per offset so that only distinct keys are held.

    Returns edge rows (_k = 0: src, dst, weight, _ts = vtype(src),
    _td = vtype(dst)) and, without a dictionary, vertex rows (_k = 1:
    src = id, _ts = name, _td = vtype).
    """
    kind = pdf["_k"].to_numpy()
    mem, dic = pdf[kind == 0], pdf[kind == 1]
    codes, names = pd.factorize(mem["entity"])
    names = names.to_numpy(dtype=object)
    if given:
        dic = dic.sort_values("entity")
        dn = dic["entity"].to_numpy(dtype=object)
        pos = np.searchsorted(dn, names)
        hit = pos < len(dn)
        hit[hit] = dn[pos[hit]] == names[hit]
        keep = hit[codes]
        pos = pos[codes][keep]
        row_id = dic["id"].to_numpy(np.int64)[pos]
        row_vt = dic["vtype"].to_numpy(dtype=object)[pos]
        mem = mem[keep]
    else:
        rank = np.empty(len(names), np.int64)
        rank[np.argsort(names)] = np.arange(len(names))
        row_id, row_vt = rank[codes], mem["vtype"].to_numpy(dtype=object)
    vid, v = np.unique(row_id, return_inverse=True)
    vt = np.empty(len(vid), dtype=object)
    vt[v] = row_vt
    conv, convs = pd.factorize(mem["conv_id"])
    turn = mem["turn_idx"].to_numpy(np.int64)
    order = np.lexsort((turn, conv))
    c, t, v = conv[order], turn[order], v[order]

    n_v, n_c = len(vid), max(len(convs), 1)
    # packed (src, dst, conv) keys stay below 2**63 while n_v² · n_c does
    assert n_v * n_v * n_c < 1 << 63, (n_v, n_c)
    keys = [np.empty(0, np.int64)]
    for k in range(1, len(c)):
        ok = (c[k:] == c[:-k]) & (t[k:] - t[:-k] <= window)
        if not ok.any():
            break
        a, b = v[:-k][ok], v[k:][ok]
        lo, hi, cc = np.minimum(a, b), np.maximum(a, b), c[k:][ok]
        d = lo != hi
        keys.append(np.unique((lo[d] * n_v + hi[d]) * n_c + cc[d]))
    pair, weight = np.unique(np.unique(np.concatenate(keys)) // n_c, return_counts=True)
    lo, hi = np.divmod(pair, n_v)
    out = pd.DataFrame({
        "_k": 0, "src": vid[lo], "dst": vid[hi], "weight": weight.astype(np.float64),
        "_ts": vt[lo], "_td": vt[hi],
    })
    if given:
        return out
    ids = np.arange(len(names), dtype=np.int64)
    verts = pd.DataFrame({
        "_k": 1, "src": ids, "dst": ids, "weight": 0.0,
        "_ts": names[np.argsort(names)], "_td": vt,
    })
    return pd.concat([out, verts], ignore_index=True)


def _one_task_edges(
    mem: DataFrame, vertices: DataFrame | None, window: int
) -> tuple[DataFrame, DataFrame] | None:
    """cooccurrence_edges(window=window) as one applyInPandas task
    (induce_kernel), or None when its input rows — membership plus the
    caller's dictionary — are above gate.ONE_BLOCK_MAX_EDGES."""
    if gate.ONE_BLOCK_MAX_EDGES <= 0:
        return None
    rows = mem.select(
        F.lit(0).alias("_k"), "conv_id", "turn_idx", "entity",
        F.lit(None).cast("long").alias("id"), F.col("etype").alias("vtype"),
    )
    if vertices is not None:
        rows = rows.unionByName(vertices.where(F.col("name").isNotNull()).select(
            F.lit(1).alias("_k"), F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"), F.col("name").alias("entity"),
            F.col("id").cast("long"), "vtype",
        ))
    if gate.observed(rows, n=F.count(F.lit(1)))["n"] > gate.ONE_BLOCK_MAX_EDGES:
        return None
    given = vertices is not None

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return induce_kernel(pdf, window, given)

    snap, _ = gate.one_task(
        rows, run, "_k int, src long, dst long, weight double, _ts string, _td string"
    )
    edges = snap.where(F.col("_k") == 0).select(
        "src", "dst", "weight",
        F.array_sort(F.array_distinct(F.array("_ts", "_td"))).alias("etypes"),
    )
    if vertices is None:
        vertices = snap.where(F.col("_k") == 1).select(
            F.col("src").alias("id"), F.col("_ts").alias("name"), F.col("_td").alias("vtype")
        )
    return vertices, edges


def cooccurrence_edges(
    transcripts: DataFrame,
    vertices: DataFrame | None = None,
    window: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Induce the canonical undirected co-occurrence edge table.

    Returns (vertices, edges) where edges = (src:long < dst:long,
    weight:double = COUNT(DISTINCT conv_id), etypes:array<string>).

    window=None → co-occurrence anywhere within the conversation;
    window=w → only entity occurrences within |Δturn_idx| <= w pair up
    (banded join: each side bucketed by turn_idx // w, right side
    replicated to adjacent buckets — bounds join-group size for huge
    conversations).

    With a window, input at or below gate.ONE_BLOCK_MAX_EDGES rows (the
    membership rows plus the caller's dictionary rows, observed on one
    noop write) runs as one applyInPandas task instead (_one_task_edges,
    induce_kernel). It returns the rows the plans below return: ids are
    entity_vertices' ranks or the caller's, a name the caller's
    dictionary lacks drops out as the inner join drops it, and etypes are
    the same expression over the endpoints' vtypes. It reads one
    snapshot, so the rank, the dictionary join, the vtype-range collect
    and the banded join do not run. window=None keeps the plans below at
    every size: its pair work grows with the square of a conversation's
    length, which is what the salting bounds.

    Hub salting (window=None only; SURVEY §4.3): a single huge
    conversation puts its whole membership — and its QUADRATIC pair
    output — into ONE conv_id join group, computed by one task (AQE's
    runtime skew-split did not rescue this shape in measurement:
    BENCH/skew_induce_r5.md). Conversations whose membership exceeds
    SALT_THRESHOLD rows (histogram pre-pass, heavy_keys — the
    reference's 'histogram first' pattern) get 2-D blocked self-joins:
    per conversation, nb = min(SALT_BUCKETS,
    ceil(rows/sqrt(SALT_TARGET_PAIRS))) and each occurrence row gets a
    block coordinate h = hash(id, turn_idx) % nb — the ROW, not just
    id, because a dominant entity (role:assistant on half the turns)
    would keep all its occurrences in one id-hash block. The left side
    holds (_ia = h, all _ib), the right (_ib = h, all _ia); joining on
    (conv, _ia, _ib) makes every pair meet exactly once at (h(a), h(b))
    while per-task pair work is bounded at ~SALT_TARGET_PAIRS and
    per-task input at ~2·rows/nb — independent of AQE. Every other
    conversation has nb = 1, a plain conv_id self-join. Results do not
    depend on the salting (pure plan change; duplicate (src,dst,conv)
    pair rows from multi-turn entities exist unsalted too and the same
    distinct absorbs them). Replication cost is explicit: each hot side
    travels nb×. The banded path needs no salting — its groups are
    O(window) by construction.
    """
    mem = membership(transcripts)
    if window is not None:
        one = _one_task_edges(mem, vertices, window)
        if one is not None:
            return one
    rows = None
    if vertices is None:
        vertices, rows = _entity_dictionary(mem)
    m = _with_ids(mem, vertices, rows).select("conv_id", "turn_idx", "id")

    if window is None:
        chunk = max(1.0, math.sqrt(SALT_TARGET_PAIRS))
        hot = heavy_keys(m, "conv_id", SALT_THRESHOLD).select(
            "conv_id",
            F.least(
                F.lit(SALT_BUCKETS),
                F.greatest(
                    F.lit(2),
                    F.ceil(F.col("count") / F.lit(chunk)).cast("int"),
                ),
            ).alias("_nb"),
        )
        mt = m.join(F.broadcast(hot), "conv_id", "left").withColumn(
            "_nb", F.coalesce("_nb", F.lit(1))
        )
        rowh = F.pmod(F.xxhash64("id", "turn_idx"), F.col("_nb")).cast("int")
        blocks = F.explode(F.sequence(F.lit(0), F.col("_nb") - 1))
        a = mt.select(
            "conv_id", "id", rowh.alias("_ia"), blocks.alias("_ib")
        ).alias("a")
        b = mt.select(
            "conv_id", "id", rowh.alias("_ib"), blocks.alias("_ia")
        ).alias("b")
        pairs = a.join(b, on=["conv_id", "_ia", "_ib"]).where(
            F.col("a.id") < F.col("b.id")
        )
    else:
        band = max(int(window), 1)  # window=0 → same-turn only; band by turn
        # 2-band replication (r7; was 3-band): the b side explodes only to
        # {its band, its band + 1}, so an occurrence pair spanning adjacent
        # bands meets exactly once with a = the LATER-band occurrence (b
        # replicated up into a's band), and a same-band pair — which the
        # join produces in both role orders — keeps exactly one order via
        # the (turn_idx, id) lexicographic tiebreak. Probe volume drops by
        # a third vs replicating b to {-1,0,+1} with the a.id<b.id filter;
        # the (src,dst,conv) set after canonicalization is IDENTICAL
        # (verified exceptAll-equal both ways at the bench shape, and the
        # distinct absorbs occurrence-pair multiplicity differences).
        # shuffle_hash on the unreplicated a side: the planner's default
        # sort-merge pays an O(n log n) sort of BOTH shuffled sides on the
        # (conv_id, _b) string key; hashing the smaller side skips it
        # (measured 3.2s → 1.7s for the full pair phase at 11.4M pairs).
        a = m.withColumn("_b", (F.col("turn_idx") / band).cast("long")).alias("a")
        b = (
            m.withColumn(
                "_b", F.explode(F.array(*[
                    ((F.col("turn_idx") / band).cast("long") + d) for d in (0, 1)
                ]))
            )
        ).alias("b")
        pairs = (
            a.hint("shuffle_hash")
            .join(b, on=[a["conv_id"] == b["conv_id"], a["_b"] == b["_b"]])
            .where(F.abs(F.col("a.turn_idx") - F.col("b.turn_idx")) <= window)
            .where(F.col("a.id") != F.col("b.id"))
            .where(
                (
                    F.struct(F.col("a.turn_idx"), F.col("a.id"))
                    < F.struct(F.col("b.turn_idx"), F.col("b.id"))
                )
                | ((F.col("b.turn_idx") / band).cast("long") != F.col("b._b"))
            )
        )
        proj = pairs.select(
            F.least(F.col("a.id"), F.col("b.id")).alias("src"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("dst"),
            F.col("a.conv_id").alias("conv_id"),
        )

    if window is None:
        proj = pairs.select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.col("a.conv_id").alias("conv_id"),
        )
    # distinct on (src,dst,conv) carries conv_id in the shuffle key → no hot
    # key; the final count has map-side combine. etypes (the reference's
    # COLLECT(DISTINCT type(r)), /root/reference/tool/Neo4jLouvainProcessor.py:202-203)
    # are pure functions of the endpoint vertices in this model, so they
    # attach AFTER the wide aggregation instead of dragging two string
    # columns through the pair shuffle.
    per_conv = proj.distinct()
    counts = per_conv.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )
    # vtype is an id-RANGE when ids are dense ranks over entity names and
    # the name prefix is the vtype ('conv:' < 'role:' < 'tool:' sorts by
    # type): three boundary scalars replace two more 400k-row broadcast
    # builds. That only holds for entity_vertices-produced dictionaries —
    # validate (contiguous: per-type count == hi-lo+1, and ranges
    # disjoint) and fall back to two dictionary joins for caller-supplied
    # vertex tables with other id assignments, gated on the dictionary's
    # row count (the sum of the per-type counts collected here).
    stats = (
        vertices.groupBy("vtype")
        .agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    bounds = {r["vtype"]: (r["lo"], r["hi"]) for r in stats}
    spans = sorted((r["lo"], r["hi"]) for r in stats)
    contiguous = all(r["hi"] - r["lo"] + 1 == r["cnt"] for r in stats) and all(
        spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
    )

    if contiguous:
        def _vt(col):
            expr = F.lit(None).cast("string")
            for vt, (lo, hi) in bounds.items():
                expr = F.when(F.col(col).between(lo, hi), F.lit(vt)).otherwise(expr)
            return expr

        edges = counts.select(
            "src",
            "dst",
            "weight",
            F.array_sort(F.array_distinct(F.array(_vt("src"), _vt("dst")))).alias("etypes"),
        )
    else:
        n = sum(r["cnt"] for r in stats)
        edges = (
            counts.join(
                broadcast_or_shuffle(
                    vertices.select(F.col("id").alias("src"), F.col("vtype").alias("_ts")), n
                ),
                "src",
            )
            .join(
                broadcast_or_shuffle(
                    vertices.select(F.col("id").alias("dst"), F.col("vtype").alias("_td")), n
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                "weight",
                F.array_sort(F.array_distinct(F.array("_ts", "_td"))).alias("etypes"),
            )
        )
    return vertices, edges


def typed_edges(
    df: DataFrame,
    src_col,
    dst_col,
    etype: str,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Directed typed relation edges — the co-occurrence-orthogonal edge
    family the reference materializes as Who-[:BELONGS_TO]->organization
    (/root/reference/tool/upload.py:118-163): a direct source-row relation
    (src entity, dst entity) counted, not a shared-context induction.

    Aggregates BEFORE the dictionary join (map-side partial count, the
    wide shuffle carries only name pairs), then maps names→ids against
    `vertices` (id, name) through the dimension-join gate
    (plans/gate.py): broadcast while small, shuffle_hash above it.
    Returns (src, dst, etype, weight) with ids when vertices is given,
    else (src_name, dst_name, etype, weight).
    """
    pairs = df.select(F.col(src_col).alias("_sn"), F.col(dst_col).alias("_dn"))
    agg = pairs.groupBy("_sn", "_dn").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )
    if vertices is None:
        return agg.select(
            F.col("_sn").alias("src_name"),
            F.col("_dn").alias("dst_name"),
            F.lit(etype).alias("etype"),
            "weight",
        )
    n = vertices.count()
    ds = broadcast_or_shuffle(
        vertices.select(F.col("name").alias("_sn"), F.col("id").alias("src")), n
    )
    dd = broadcast_or_shuffle(
        vertices.select(F.col("name").alias("_dn"), F.col("id").alias("dst")), n
    )
    return (
        agg.join(ds, "_sn")
        .join(dd, "_dn")
        .select("src", "dst", F.lit(etype).alias("etype"), "weight")
    )
