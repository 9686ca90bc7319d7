"""Reference results for the benchmark's correctness checks.

Everything here is single-process numpy/networkx over collected pandas
frames and runs outside the timed region. Each check returns a list of
failure messages (empty = pass).
"""

from __future__ import annotations

import hashlib

import networkx as nx
import numpy as np
import pandas as pd


def graph(edges: pd.DataFrame, ids=None) -> nx.Graph:
    g = nx.Graph()
    if ids is not None:
        g.add_nodes_from(int(i) for i in ids)
    g.add_weighted_edges_from(
        zip(edges["src"].tolist(), edges["dst"].tolist(), edges["weight"].tolist())
    )
    return g


def fingerprint(assign: pd.DataFrame) -> str:
    """Order-insensitive digest of an (id, community) assignment."""
    a = assign.sort_values("id")[["id", "community"]].to_numpy(dtype=np.int64)
    return hashlib.sha256(a.tobytes()).hexdigest()[:16]


def check_modularity(g: nx.Graph, assign: pd.DataFrame, reported: float) -> list[str]:
    groups = assign.groupby("community")["id"].apply(lambda s: set(int(x) for x in s))
    missing = set(g.nodes) - set(int(i) for i in assign["id"])
    if missing:
        return [f"louvain: {len(missing)} graph vertices have no community"]
    q = nx.community.modularity(g, list(groups), weight="weight", resolution=1.0)
    if not np.isclose(q, reported, rtol=0.0, atol=1e-6):
        return [f"louvain: networkx modularity {q:.9f} != reported {reported:.9f}"]
    return []


def check_clusters(summary: pd.DataFrame, assign: pd.DataFrame, names: pd.DataFrame) -> list[str]:
    """cluster_summary == (size, min member name) of every community of size >= 2."""
    j = assign.merge(names, on="id")
    exp = j.groupby("community").agg(size=("id", "size"), canonical_name=("name", "min"))
    exp = exp[exp["size"] >= 2].sort_index()
    got = summary.set_index("community")[["size", "canonical_name"]].sort_index()
    if len(got) != len(exp) or not (
        (got.index == exp.index).all()
        and (got["size"].to_numpy() == exp["size"].to_numpy()).all()
        and (got["canonical_name"].to_numpy() == exp["canonical_name"].to_numpy()).all()
    ):
        return [f"clusters: summary differs from assignments ({len(got)} vs {len(exp)} rows)"]
    return []


def _index(ids: np.ndarray, edges: pd.DataFrame):
    ids = np.sort(ids)
    return ids, np.searchsorted(ids, edges["src"].to_numpy()), np.searchsorted(
        ids, edges["dst"].to_numpy()
    )


def pagerank_power(edges: pd.DataFrame, ids: np.ndarray, iters: int, damping: float = 0.85):
    """Undirected weighted PageRank, `iters` power steps from 1/n (tol = 0)."""
    ids, s, d = _index(ids, edges)
    w = edges["weight"].to_numpy(dtype=np.float64)
    loop = s == d
    src = np.concatenate([s, d[~loop]])
    dst = np.concatenate([d, s[~loop]])
    ww = np.concatenate([w, w[~loop]])
    n = len(ids)
    out_w = np.bincount(src, ww, minlength=n)
    frac = ww / out_w[src]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        c = np.bincount(dst, frac * r[src], minlength=n)
        r = (1.0 - damping) / n + damping * (c + r[dangling].sum() / n)
    return pd.DataFrame({"id": ids, "score": r})


def label_propagation_ref(edges: pd.DataFrame, ids: np.ndarray, max_iter: int) -> pd.DataFrame:
    """Synchronous weighted LPA: argmax neighbour-label weight, ties to the
    smallest label, stop at the first step that moves nothing."""
    fwd = edges[["src", "dst", "weight"]]
    rev = fwd[fwd["src"] != fwd["dst"]].rename(columns={"src": "dst", "dst": "src"})
    adj = pd.concat([fwd, rev], ignore_index=True)
    labels = pd.Series(np.sort(ids), index=np.sort(ids))
    for _ in range(max_iter):
        h = (
            adj.assign(lab=labels.reindex(adj["dst"]).to_numpy())
            .groupby(["src", "lab"], as_index=False)["weight"].sum()
            .sort_values(["src", "weight", "lab"], ascending=[True, False, True])
            .drop_duplicates("src")
        )
        new = labels.copy()
        new.loc[h["src"].to_numpy()] = h["lab"].to_numpy()
        moved = int((new != labels).sum())
        labels = new
        if moved == 0:
            break
    return pd.DataFrame({"id": labels.index, "community": labels.to_numpy()})


def components_ref(g: nx.Graph) -> dict[int, int]:
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def triangles_ref(g: nx.Graph) -> int:
    return sum(nx.triangles(g).values()) // 3


def same_map(got: pd.DataFrame, key: str, val: str, ref: dict | pd.DataFrame, what: str) -> list[str]:
    if isinstance(ref, pd.DataFrame):
        ref = dict(zip(ref[key].tolist(), ref[val].tolist()))
    g = dict(zip(got[key].tolist(), got[val].tolist()))
    if g != ref:
        bad = sum(1 for k in set(g) | set(ref) if g.get(k) != ref.get(k))
        return [f"{what}: {bad} of {len(ref)} rows differ from the reference"]
    return []
