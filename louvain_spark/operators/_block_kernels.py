"""One-block PageRank, LPA and CC: the whole graph in one task.

At or below plans/gate.ONE_BLOCK_MAX_EDGES input edges, the superstep
operators skip their distributed loops. They ship edges, explicit
vertices and any resume state as ONE applyInPandas group (one_block,
through gate.one_task), and a numpy kernel iterates to the end inside
that task. At that size every distributed superstep pays per-stage
latency, not compute; the block layout with B = 1 is the in-memory half
of the split in Hybrid Edge Partitioner (SIGMOD'21).

Vertex ids map to indices through np.searchsorted over the sorted ids.
Each kernel reproduces its distributed superstep exactly:

- PageRank: np.bincount SpMV with the same (1-d)/N and dangling-mass
  terms. A vertex whose out-strength is 0 is dangling (networkx's
  stochastic_graph rule). Stops at the first step whose L∞ delta is
  below tol (the batched distributed path checks at batch boundaries).
- LPA: synchronous; a vertex takes its neighbours' label with the largest
  weight sum, ties to the smallest label; vertices without edges keep
  theirs. Stops at the first fixpoint or at max_iter.
- CC: each vertex takes the minimum label over its neighbours, then
  labels pointer-jump, until nothing changes; a component's label is its
  minimum vertex id.

A self-loop counts once in the symmetric view, as in graph.symmetrize.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from louvain_spark.plans.gate import one_task

_EDGE, _VERTEX, _STATE = 0, 1, 2


class Block(NamedTuple):
    ids: np.ndarray  # sorted distinct vertex ids
    src: np.ndarray  # edge endpoints, as indices into ids
    dst: np.ndarray
    w: np.ndarray
    state_at: np.ndarray  # indices of the vertices the resume state covers
    state_label: np.ndarray  # their long state value (LPA)
    state_score: np.ndarray  # their double state value (PageRank)


def unpack(pdf: pd.DataFrame) -> Block:
    """The packed group (see one_block) as index arrays."""
    kind = pdf["_k"].to_numpy()
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.float64)
    graph = kind != _STATE
    ids = np.unique(np.concatenate([src[graph], dst[graph]]))
    e = kind == _EDGE
    st = np.flatnonzero(kind == _STATE)
    at = np.searchsorted(ids, src[st])
    # a state row for a vertex outside the graph is dropped, as the
    # distributed path's joins onto the vertex set drop it
    known = at < len(ids)
    known[known] = ids[at[known]] == src[st[known]]
    st, at = st[known], at[known]
    return Block(
        ids, np.searchsorted(ids, src[e]), np.searchsorted(ids, dst[e]), w[e],
        at, dst[st], w[st],
    )


def _symmetric(b: Block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    loop = b.src == b.dst
    return (
        np.concatenate([b.src, b.dst[~loop]]),
        np.concatenate([b.dst, b.src[~loop]]),
        np.concatenate([b.w, b.w[~loop]]),
    )


def pagerank_block(
    b: Block, damping: float, tol: float, max_iter: int, directed: bool
) -> tuple[np.ndarray, int, float]:
    """(scores, steps run, last step's L∞ delta)."""
    n = len(b.ids)
    s, d, w = (b.src, b.dst, b.w) if directed else _symmetric(b)
    out_w = np.bincount(s, w, minlength=n)
    dangling = out_w == 0
    frac = np.divide(w, out_w[s], out=np.zeros_like(w), where=~dangling[s])
    if len(b.state_at):
        r = np.zeros(n)
        r[b.state_at] = b.state_score
    else:
        r = np.full(n, 1.0 / n)
    steps, delta = 0, float("nan")
    while steps < max_iter:
        c = np.bincount(d, frac * r[s], minlength=n)
        new = (1.0 - damping) / n + damping * (c + r[dangling].sum() / n)
        delta = float(np.abs(new - r).max())
        r, steps = new, steps + 1
        if delta < tol:
            break
    return r, steps, delta


def lpa_block(b: Block, max_iter: int) -> tuple[np.ndarray, int, float]:
    """(labels, steps run, vertices the last step moved)."""
    h, t, w = _symmetric(b)
    labels = b.ids.copy()
    labels[b.state_at] = b.state_label
    steps, moved = 0, 0
    while steps < max_iter and len(h):  # an edgeless graph moves nothing
        # one (vertex, neighbour label) group per key, ordered by vertex,
        # then label
        names, rank = np.unique(labels, return_inverse=True)
        key, inv = np.unique(h * len(names) + rank[t], return_inverse=True)
        weight = np.bincount(inv, w)
        v, lab = key // len(names), names[key % len(names)]
        # per vertex, the first group of largest weight: the smallest label
        starts = np.flatnonzero(np.r_[True, v[1:] != v[:-1]])
        seg = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, len(v)]))
        best = np.flatnonzero(weight == np.maximum.reduceat(weight, starts)[seg])
        head = best[np.r_[True, seg[best[1:]] != seg[best[:-1]]]]
        new = labels.copy()
        new[v[head]] = lab[head]
        moved = int((new != labels).sum())
        labels, steps = new, steps + 1
        if moved == 0:
            break
    return labels, steps, float(moved)


def cc_block(b: Block) -> tuple[np.ndarray, int, float]:
    """(component = minimum vertex id, steps run, 0.0 moved at the end).

    Runs to convergence regardless of the distributed path's max_iter, so
    the star edges it leaves as state always span the components."""
    lab = np.arange(len(b.ids))
    steps = 0
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, b.src, lab[b.dst])
        np.minimum.at(nxt, b.dst, lab[b.src])
        while True:  # labels point at a vertex with a smaller label
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        moved = int((nxt != lab).sum())
        lab, steps = nxt, steps + 1
        if moved == 0:
            return b.ids[lab], steps, 0.0


def one_block(
    edges: DataFrame,
    vertices: DataFrame | None,
    state: DataFrame | None,
    kernel: Callable[[Block], tuple[np.ndarray, int, float]],
    value: str,
    value_type: str,
) -> tuple[DataFrame, int, float | None]:
    """Run `kernel` over the whole graph as one task (gate.one_task).

    edges(src, dst, w); vertices(id) or None; state(id, <value>) or None.
    value_type is "long" (a label) or "double" (a score). Returns (the
    snapshot (id, <value>, _steps, _metric), the kernel's step count, its
    metric); an empty graph gives no rows, 0 steps and None. Louvain's
    dendrogram tail (operators/louvain.py) runs through here too, with
    each node's min member vertex id as its long state.

    The group holds the packed rows (src, dst, w, kind, group) in one
    Python worker; gate.ONE_BLOCK_MAX_EDGES bounds its memory.
    """
    parts = [
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("w").cast("double").alias("w"),
            F.lit(_EDGE).alias("_k"),
        )
    ]
    if vertices is not None:
        vid = F.col("id").cast("long")
        parts.append(
            vertices.select(
                vid.alias("src"), vid.alias("dst"), F.lit(0.0).alias("w"),
                F.lit(_VERTEX).alias("_k"),
            )
        )
    if state is not None:
        # no nulls in the packed columns: pandas would turn a null long
        # into a float NaN
        sid = F.col("id").cast("long")
        label = value_type != "double"
        parts.append(
            state.select(
                sid.alias("src"),
                (F.col(value).cast("long") if label else sid).alias("dst"),
                (F.lit(0.0) if label else F.col(value)).alias("w"),
                F.lit(_STATE).alias("_k"),
            )
        )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        b = unpack(pdf)
        if not len(b.ids):  # resume state rows only
            return pd.DataFrame({"id": [], value: [], "_steps": [], "_metric": []})
        vals, steps, metric = kernel(b)
        return pd.DataFrame(
            {"id": b.ids, value: vals, "_steps": steps, "_metric": metric}
        )

    snap, got = one_task(
        reduce(DataFrame.unionByName, parts), run,
        f"id long, {value} {value_type}, _steps long, _metric double",
        steps=F.max("_steps"), metric=F.max("_metric"),
    )
    return snap, int(got["steps"] or 0), got["metric"]
