"""Incremental daily→all-time cluster migration (reference stage 5).

The reference merges a daily Neo4j DB into an all-time DB
(/root/reference/event_cover/eventMove.py:31-165): match daily clusters to
all-time clusters by blended embedding cosine ≥ 0.8 (0.5·why + 0.5·what,
:438-475), relabel matched, copy unmatched as new clusters, then match
orphan vertices at ≥ 0.95 (:602-692). No Structured Streaming in the
reference — this is snapshot-to-snapshot incremental batch (SURVEY.md
§2.9): joins + anti-joins + union + overwrite, resumable like any other
engine stage.

migrate caches both sides' member rows once and counts them on the
action that fills the cache. When they fit one Python worker
(gate.ONE_BLOCK_MAX_EDGES rows together, gate.BLOCKED_MATCH_ABOVE daily ×
all-time rows), it computes the centroids, the top-1 match and the fresh
ids in one applyInPandas task (remap_kernel) with the distributed path's
arithmetic; above either bound the centroids are Spark aggregates over
the same cache and the match is the crossJoin brute or, above
BLOCKED_MATCH_ABOVE candidate pairs, the blocked nested-loop. Both give
the same (daily → all-time community) remap, which Spark applies with a
relabel join, an anti-join and a union.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from louvain_spark.functions.featurize import featurize, featurize_matrix
from louvain_spark.functions.scalars import l2_normalize
from louvain_spark.operators.similarity import cosine_topk_brute
from louvain_spark.plans import gate
from louvain_spark.plans.rank import dense_sorted_rank

CLUSTER_MATCH_THRESHOLD = 0.8   # eventMove.py:459-463
ORPHAN_MATCH_THRESHOLD = 0.95   # eventMove.py:602-692


def _topk_auto(queries: DataFrame, items: DataFrame, k: int, min_sim: float) -> DataFrame:
    """Exact top-k: crossJoin brute up to gate.BLOCKED_MATCH_ABOVE
    candidate pairs (|Q|·|I|), blocked nested-loop above it. Both forms
    enumerate every pair, so results are identical up to float summation
    order (brute folds the dot product sequentially in Catalyst, blocked
    uses numpy matmul) — near-tie similarities can rank differently
    across the gate.

    Inputs are snapshotted (eager localCheckpoint) BEFORE sizing: the
    centroid/featurize lineages behind them are the dominant cost of a
    migration call, and counting then re-executing them for the match
    would pay that cost twice per micro-batch. Row counts ride the
    snapshot action itself via Observation (one job per side, no separate
    count() jobs)."""
    from louvain_spark.operators.similarity import cosine_topk_blocked

    obs_q, obs_i = Observation(), Observation()
    q = queries.observe(obs_q, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    i = items.observe(obs_i, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    if obs_q.get["n"] * obs_i.get["n"] <= gate.BLOCKED_MATCH_ABOVE:
        return cosine_topk_brute(q, i, k=k, min_sim=min_sim, exclude_self=False)
    return cosine_topk_blocked(
        q.sparkSession, q, i, k=k, min_sim=min_sim, exclude_self=False,
    )


# above this vector dim, the per-index F.sum aggregate (dim expressions in
# one groupBy) stresses Catalyst's expression tree — the reference's real
# embedding dim is 1024 (tool/TextProcessor.py:25); switch to posexplode,
# which keeps the plan at 3 fixed-width aggregates regardless of dim
WIDE_AGG_MAX_DIM = 128


def cluster_centroids(
    assignments: DataFrame,
    attrs: DataFrame,
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """(community, centroid) — mean of member text features, re-normalized.

    attrs: (id, <text_col>) vertex attributes. The deterministic stand-in
    for the reference's per-cluster why/what embeddings. Above
    WIDE_AGG_MAX_DIM the mean runs per index (posexplode); both paths are
    exact.

    remap_kernel (_unit_centroids) mirrors this arithmetic in numpy for
    the one-task migration — float64 sums, the mean cast to float32,
    l2_normalize's norm — and must change with it.
    """
    texts = assignments.join(attrs, "id").select("community", F.col(text_col).alias("_text"))
    return _centroids(texts, dim)


def _centroids(texts: DataFrame, dim: int) -> DataFrame:
    """cluster_centroids from (community, _text) member rows."""
    vec = featurize(F.coalesce(F.col("_text"), F.lit("")), dim=dim)
    member_vecs = texts.select("community", vec.alias("v"))
    if dim > WIDE_AGG_MAX_DIM:
        return _centroids_exploded(member_vecs)
    n = member_vecs.groupBy("community").agg(
        F.count(F.lit(1)).alias("n"),
        F.array(*[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)]).alias("sums"),
    )
    mean = n.select(
        "community",
        F.transform("sums", lambda s: (s / F.col("n")).cast("float")).alias("centroid"),
    )
    return mean.select("community", l2_normalize("centroid").alias("centroid"))


def _centroids_exploded(member_vecs: DataFrame) -> DataFrame:
    """High-dim centroid path: dim lives in ROWS (posexplode), so the agg
    is 1 expression over (community, pos) instead of dim expressions over
    community. Two shuffles on uniformly-distributed keys; mean computed
    per index then reassembled in vector order via array_sort(collect_list)
    on (pos, mean) structs."""
    ex = member_vecs.select("community", F.posexplode("v").alias("pos", "x"))
    per_index = ex.groupBy("community", "pos").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("m")
    )
    mean = per_index.groupBy("community").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"].cast("float"),
        ).alias("centroid")
    )
    return mean.select("community", l2_normalize("centroid").alias("centroid"))


def match_clusters(
    daily_centroids: DataFrame,
    alltime_centroids: DataFrame,
    threshold: float = CLUSTER_MATCH_THRESHOLD,
) -> DataFrame:
    """(daily_community, alltime_community, sim) — best match ≥ threshold,
    each daily cluster matched to at most one all-time cluster (greedy by
    similarity, ties → lower all-time id), mirroring the theta cross join
    + sort of eventMove.py:438-475. Routes through the blocked nested-loop
    above gate.BLOCKED_MATCH_ABOVE candidate pairs."""
    top = _topk_auto(
        daily_centroids.select(F.col("community").alias("id"), F.col("centroid").alias("vec")),
        alltime_centroids.select(F.col("community").alias("id"), F.col("centroid").alias("vec")),
        k=1,
        min_sim=threshold,
    )
    return top.select(
        F.col("query_id").alias("daily_community"),
        F.col("item_id").alias("alltime_community"),
        "sim",
    )


def migrate(
    spark: SparkSession,
    daily_assign: DataFrame,
    daily_attrs: DataFrame,
    alltime_assign: DataFrame,
    alltime_attrs: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    threshold: float = CLUSTER_MATCH_THRESHOLD,
    orphan_threshold: float = ORPHAN_MATCH_THRESHOLD,
) -> DataFrame:
    """Merged all-time assignments (id, community).

    - daily clusters matching an all-time centroid ≥ threshold are
      relabeled to the all-time community id;
    - unmatched daily clusters get fresh ids above the all-time max;
    - daily vertex ids already present in all-time keep their all-time
      assignment (the reference never reassigns existing nodes);
    - orphan handling (singletons at ≥ orphan_threshold) is the same
      match at a stricter threshold, applied to unmatched singletons.

    Both sides' member rows (_members) are cached once. The (daily →
    all-time community) remap comes from one task when they fit
    (_remap_one_task), else from distributed centroid aggregates and
    match over the same cache (_remap_distributed); both give the same
    remap.
    """
    members = (
        _members(daily_assign, daily_attrs, text_col, 0)
        .unionByName(_members(alltime_assign, alltime_attrs, text_col, 1))
        .persist()
    )
    try:
        remap = _remap_one_task(members, dim, threshold, orphan_threshold)
        if remap is None:
            remap = _remap_distributed(
                members, daily_assign, dim, threshold, orphan_threshold
            )
    finally:
        members.unpersist()
    relabeled = (
        daily_assign.withColumnRenamed("community", "daily_community")
        .join(remap, "daily_community")
        .select("id", F.col("alltime_community").alias("community"))
    )
    # existing all-time vertices keep their assignment
    new_only = relabeled.join(alltime_assign.select("id"), "id", "left_anti")
    return alltime_assign.select("id", "community").unionByName(new_only)


def _members(assign: DataFrame, attrs: DataFrame, text_col: str, side: int) -> DataFrame:
    """(_side, id, community, _text, _has) per member: a left join, so a
    member without an attrs row still counts toward its community's size,
    the all-time max and the unmatched set."""
    a = attrs.select("id", F.col(text_col).alias("_text"), F.lit(True).alias("_has"))
    return assign.join(a, "id", "left").select(
        F.lit(side).alias("_side"),
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
        F.coalesce("_text", F.lit("")).alias("_text"),
        F.coalesce("_has", F.lit(False)).alias("_has"),
    )


def _remap_distributed(
    members: DataFrame, daily_assign: DataFrame, dim, threshold, orphan_threshold
) -> DataFrame:
    """(daily_community, alltime_community): centroid aggregates over the
    cached member rows, the top-1 match and the fresh-id rank as Spark
    jobs."""
    def side(s: int) -> DataFrame:
        return members.where(F.col("_side") == s)

    d_cent = _centroids(side(0).where("_has"), dim).persist()
    a_cent = _centroids(side(1).where("_has"), dim).persist()

    # singleton daily clusters face the stricter orphan threshold
    sizes = daily_assign.groupBy("community").agg(F.count(F.lit(1)).alias("sz"))
    matches = (
        match_clusters(d_cent, a_cent, threshold=min(threshold, orphan_threshold))
        .join(sizes.withColumnRenamed("community", "daily_community"), "daily_community")
        .where(
            (F.col("sim") >= F.lit(threshold)) & (F.col("sz") >= 2)
            | (F.col("sim") >= F.lit(orphan_threshold))
        )
        .select("daily_community", "alltime_community")
    )

    max_alltime = side(1).agg(F.coalesce(F.max("community"), F.lit(-1))).collect()[0][0]
    unmatched = (
        daily_assign.select("community")
        .distinct()
        .join(matches.withColumnRenamed("daily_community", "community"), "community", "left_anti")
    )
    fresh = dense_sorted_rank(unmatched, "community", id_col="_rk")[0].select(
        F.col("community").alias("daily_community"),
        (F.col("_rk") + 1 + max_alltime).cast("long").alias("alltime_community"),
    )
    remap = matches.unionByName(fresh)
    d_cent.unpersist()
    a_cent.unpersist()
    return remap


def _remap_one_task(members: DataFrame, dim, threshold, orphan_threshold) -> DataFrame | None:
    """(daily_community, alltime_community) from one applyInPandas task
    (remap_kernel), or None when the cached member rows do not fit it.

    Their counts ride the action that fills the cache. They fit when
    n_day·n_alltime ≤ gate.BLOCKED_MATCH_ABOVE (the kernel scores every
    centroid pair, and communities ≤ members) and n_day + n_alltime ≤
    gate.ONE_BLOCK_MAX_EDGES (the worker holds every member row)."""
    if gate.ONE_BLOCK_MAX_EDGES <= 0:
        return None
    day = F.col("_side") == 0
    n = gate.observed(members, d=F.count(F.when(day, 1)), a=F.count(F.when(~day, 1)))
    n_d, n_a = n["d"], n["a"]
    if n_d * n_a > gate.BLOCKED_MATCH_ABOVE or n_d + n_a > gate.ONE_BLOCK_MAX_EDGES:
        return None

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return remap_kernel(pdf, dim, threshold, orphan_threshold)

    return gate.one_task(members, run, "daily_community long, alltime_community long")[0]


def remap_kernel(
    pdf: pd.DataFrame, dim: int, threshold: float, orphan_threshold: float
) -> pd.DataFrame:
    """_remap_distributed's remap from the member rows (_members) of both
    sides, with its arithmetic: float64 sums of the float32 member
    vectors, the mean cast to float32, l2_normalize's norm (float32
    squares folded in float64), and each score a float64 left fold over
    the dims, as dot_col does. The top-1 all-time centroid of a daily one
    is the highest score, ties to the lower all-time id."""
    day = pdf[pdf["_side"].to_numpy() == 0]
    allt = pdf[pdf["_side"].to_numpy() == 1]
    d_com, d_vec = _unit_centroids(day, dim)
    a_com, a_vec = _unit_centroids(allt, dim)
    best, sim = _top1(d_vec, a_vec)
    # an attrs table that repeats an id repeats its member rows
    pairs = day[["community", "id"]].drop_duplicates()
    all_d, sizes = np.unique(pairs["community"].to_numpy(), return_counts=True)
    sz = sizes[np.searchsorted(all_d, d_com)]
    ok = (sim >= threshold) & (sz >= 2) | (sim >= orphan_threshold)
    matched = d_com[ok]
    unmatched = np.setdiff1d(all_d, matched)
    top = int(allt["community"].max()) if len(allt) else -1
    return pd.DataFrame({
        "daily_community": np.concatenate([matched, unmatched]),
        "alltime_community": np.concatenate(
            [a_com[best[ok]], np.arange(len(unmatched)) + 1 + top]
        ),
    }).astype("int64")


def _unit_centroids(rows: pd.DataFrame, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(sorted communities, float32 unit centroids) over the members with
    an attrs row, as cluster_centroids computes them. Texts are featurized
    in chunks of 10k rows, which bounds the padded byte matrix."""
    rows = rows[rows["_has"].to_numpy()]
    com, inv = np.unique(rows["community"].to_numpy(), return_inverse=True)
    order = np.argsort(inv, kind="stable")
    inv, texts = inv[order], rows["_text"].to_numpy()[order]
    sums = np.zeros((len(com), dim))
    for a in range(0, len(inv), 10_000):
        c = inv[a : a + 10_000]
        starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
        vec = featurize_matrix(texts[a : a + 10_000], dim).astype(np.float64)
        sums[c[starts]] += np.add.reduceat(vec, starts, axis=0)
    mean = (sums / np.bincount(inv, minlength=len(com))[:, None]).astype(np.float32)
    sq = mean * mean
    norm2 = np.zeros(len(com))
    for j in range(dim):
        norm2 += sq[:, j]
    norm = np.sqrt(norm2)[:, None]
    return com, np.where(norm > 0, (mean / norm).astype(np.float32), mean)


def _top1(q: np.ndarray, items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per row of q, the index of its highest-scoring item row (the first,
    so the lowest item, on a tie) and that score; −inf without items.
    Rows go in blocks of ~16 MB of scores."""
    best = np.zeros(len(q), dtype=np.int64)
    sim = np.full(len(q), -np.inf)
    if not len(q) or not len(items):
        return best, sim
    qd, it = q.astype(np.float64), items.astype(np.float64).T.copy()
    step = max(1, (16 << 20) // (8 * it.shape[1]))
    for a in range(0, len(q), step):
        acc = np.zeros((len(qd[a : a + step]), it.shape[1]))
        tmp = np.empty_like(acc)
        for j in range(it.shape[0]):
            acc += np.multiply(qd[a : a + step, j, None], it[j], out=tmp)
        best[a : a + step] = acc.argmax(axis=1)
        sim[a : a + step] = acc[np.arange(len(acc)), best[a : a + step]]
    return best, sim


def match_orphan_vertices(
    spark: SparkSession,
    orphan_attrs: DataFrame,
    alltime_assign: DataFrame,
    alltime_attrs: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    threshold: float = ORPHAN_MATCH_THRESHOLD,
) -> DataFrame:
    """(id, community, sim) — individual never-clustered vertices matched
    to their best all-time cluster centroid at ≥ threshold (reference
    matches orphan What nodes at 0.95, eventMove.py:602-692). Orphans
    below the bar stay unassigned, as in the reference."""
    cents = cluster_centroids(alltime_assign, alltime_attrs, text_col, dim)
    vec = featurize(F.coalesce(F.col(text_col), F.lit("")), dim=dim)
    q = orphan_attrs.select("id", vec.alias("vec"))
    # orphan side can be arbitrarily large (every never-clustered vertex
    # of the day) — same blocked routing above the gate
    top = _topk_auto(
        q,
        cents.select(F.col("community").alias("id"), F.col("centroid").alias("vec")),
        k=1,
        min_sim=threshold,
    )
    return top.select(
        F.col("query_id").alias("id"), F.col("item_id").alias("community"), "sim"
    )


def migrate_subgraph(
    spark: SparkSession,
    daily_assign: DataFrame,
    daily_attrs: DataFrame,
    daily_edges: DataFrame,
    alltime_assign: DataFrame,
    alltime_attrs: DataFrame,
    alltime_edges: DataFrame,
    orphan_attrs: DataFrame | None = None,
    text_col: str = "text",
    dim: int = 64,
    threshold: float = CLUSTER_MATCH_THRESHOLD,
    orphan_threshold: float = ORPHAN_MATCH_THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """Full snapshot merge: (merged assignments, merged edge table).

    The reference's migrate copies matched/unmatched clusters WITH their
    related-entity edges into the all-time DB via MERGE
    (eventMove.py:236-332, 334-436, 694-788); here the daily co-occurrence
    edges join the all-time edge table with MERGE-on-(src,dst) semantics
    (existing pairs keep their all-time row, new pairs append).
    orphan_attrs, when given, are (id, text) vertices that were never
    clustered daily (no community at all) — each is matched individually
    against all-time centroids at orphan_threshold and added on success.
    """
    merged = migrate(
        spark,
        daily_assign,
        daily_attrs,
        alltime_assign,
        alltime_attrs,
        text_col,
        dim,
        threshold,
        orphan_threshold,
    )
    if orphan_attrs is not None:
        orphans = orphan_attrs.join(merged.select("id"), "id", "left_anti")
        matched = match_orphan_vertices(
            spark, orphans, alltime_assign, alltime_attrs, text_col, dim,
            orphan_threshold,
        )
        merged = merged.unionByName(matched.select("id", "community"))
    new_edges = daily_edges.join(
        alltime_edges.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    merged_edges = alltime_edges.unionByName(new_edges.select(*alltime_edges.columns))
    return merged, merged_edges
