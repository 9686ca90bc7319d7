"""Vectorized-CSR kernels for Louvain's local-move phase.

one_level_csr runs one level on a whole level graph; dendrogram_csr
loops it over every remaining dendrogram level inside one applyInPandas
task (exact mode from level 0; auto once the level graph has shrunk to
auto_exact_max vertices). Both implement the pinned spec shared with
tests/oracle/louvain_ref.py — python-louvain 0.16 gain/termination
semantics with deterministic orderings:

  node order per pass = ascending ids shuffled by
  RandomState((seed + 1000003*level) % 2**32), stream continuing across
  passes; candidate communities scanned ascending; strict '>' improvement.

Id lookups are np.searchsorted over sorted ids, not a hash map (the
lookup choice of *Analyzing Vectorized Hash Tables Across CPU
Architectures*, VLDB'23). Independent implementation from the oracle
(CSR arrays vs dict-of-dicts) so parity tests have teeth.
"""

from __future__ import annotations

import numpy as np

MIN_GAIN = 1e-7


def one_level_csr(
    node_ids: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    resolution: float,
    seed: int,
    level: int,
    min_gain: float = MIN_GAIN,
) -> tuple[np.ndarray, float]:
    """One local-move phase over the graph given as canonical edge arrays.

    node_ids: sorted unique vertex ids (may include isolated vertices).
    src/dst/w: canonical undirected edges (src<=dst), parallel arrays;
    self-loops allowed. Returns (community index per node_ids position,
    renumbered 0..k-1 by first appearance over ascending node order,
    modularity after the level).
    """
    n = len(node_ids)
    s = np.searchsorted(node_ids, src)
    d = np.searchsorted(node_ids, dst)
    w = np.asarray(w, dtype=np.float64)

    loops = s == d
    self_w = np.zeros(n)
    np.add.at(self_w, s[loops], w[loops])

    es, ed, ew = s[~loops], d[~loops], w[~loops]
    # CSR over the symmetric view
    heads = np.concatenate([es, ed])
    tails = np.concatenate([ed, es])
    hw = np.concatenate([ew, ew])
    order = np.argsort(heads, kind="stable")
    heads, tails, hw = heads[order], tails[order], hw[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, heads + 1, 1)
    indptr = np.cumsum(indptr)

    k = np.zeros(n)
    np.add.at(k, heads, hw)
    k += 2.0 * self_w
    m = float(w.sum())
    if m <= 0:
        return np.arange(n, dtype=np.int64), 0.0

    com = np.arange(n, dtype=np.int64)
    tot = k.copy()
    internals = self_w.copy()
    rng = np.random.RandomState((seed + 1000003 * level) % (2**32))

    def mod() -> float:
        return float(
            (internals * resolution / m - (tot / (2.0 * m)) ** 2).sum()
        )

    modified = True
    cur_mod = mod()
    new_mod = cur_mod
    while modified:
        cur_mod = new_mod
        modified = False
        visit = np.arange(n)
        rng.shuffle(visit)
        for u in visit:
            cu = com[u]
            lo, hi = indptr[u], indptr[u + 1]
            nbr_coms = com[tails[lo:hi]]
            nbr_w = hw[lo:hi]
            # dnc per neighboring community, scanned in ascending-com order
            cands, inv = np.unique(nbr_coms, return_inverse=True)
            dnc = np.zeros(len(cands))
            np.add.at(dnc, inv, nbr_w)
            degc = k[u] / (2.0 * m)
            pos_u = np.searchsorted(cands, cu)
            own_dnc = (
                dnc[pos_u] if pos_u < len(cands) and cands[pos_u] == cu else 0.0
            )
            remove_cost = -own_dnc + resolution * (tot[cu] - k[u]) * degc
            tot[cu] -= k[u]
            internals[cu] -= own_dnc + self_w[u]
            incr = remove_cost + dnc - resolution * tot[cands] * degc
            best_com, best_incr = cu, 0.0
            pos = np.argmax(incr) if len(incr) else -1
            if pos >= 0 and incr[pos] > 0.0:
                # strict '>' with ascending-com scan ⇒ first max wins
                first = np.flatnonzero(incr == incr[pos])[0]
                if incr[first] > best_incr:
                    best_incr = float(incr[first])
                    best_com = int(cands[first])
            add_dnc = 0.0
            posb = np.searchsorted(cands, best_com)
            if posb < len(cands) and cands[posb] == best_com:
                add_dnc = dnc[posb]
            tot[best_com] += k[u]
            internals[best_com] += add_dnc + self_w[u]
            com[u] = best_com
            if best_com != cu:
                modified = True
        new_mod = mod()
        if new_mod - cur_mod < min_gain:
            break

    # renumber by first appearance over ascending node index
    _, first, inv = np.unique(com, return_index=True, return_inverse=True)
    return np.argsort(np.argsort(first))[inv], new_mod


def dendrogram_csr(
    rep: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    resolution: float,
    seed: int,
    start_level: int,
    max_levels: int,
    min_gain: float = MIN_GAIN,
) -> tuple[np.ndarray, float, int]:
    """Every dendrogram level from start_level on, over one level graph.

    rep: per node, its min member vertex id; src/dst: edge endpoints as
    indices into rep, self-loops kept; w: edge weights (total > 0).
    Ranking the nodes by rep is the renumber of the level that built
    this graph (louvain._renumber). From level 0 the nodes are the
    vertices, and level 0 is always kept. Above it the previous level's
    modularity is the singleton partition's on this graph, and a level
    is kept while it gains at least min_gain, up to max_levels.

    Returns (final community per node, 0..k-1 in rep order; the
    modularity of the last kept level; the number of levels kept).
    """
    n = len(rep)
    label = np.empty(n, dtype=np.int64)
    label[np.argsort(rep, kind="stable")] = np.arange(n)
    s, d = label[src], label[dst]
    w = np.asarray(w, dtype=np.float64)
    final = label
    mod = None
    if start_level > 0:
        m = float(w.sum())
        k = np.bincount(s, weights=w, minlength=n) + np.bincount(d, weights=w, minlength=n)
        loops = s == d
        self_w = np.bincount(s[loops], weights=w[loops], minlength=n)
        mod = float((self_w * resolution / m - (k / (2.0 * m)) ** 2).sum())
    level, kept = start_level, 0
    while level == 0 or level < max_levels:
        com, new_mod = one_level_csr(np.arange(n), s, d, w, resolution, seed, level)
        if mod is not None and new_mod - mod < min_gain:
            break
        final, mod, kept = com[final], new_mod, kept + 1
        # coarsen: sum the weights per community pair, self-loops kept
        n = int(com.max()) + 1
        keys, inv = np.unique(
            np.minimum(com[s], com[d]) * n + np.maximum(com[s], com[d]),
            return_inverse=True,
        )
        s, d, w = keys // n, keys % n, np.bincount(inv, weights=w)
        level += 1
    return final, mod, kept


def block_local_moves(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    cu: np.ndarray,
    cd: np.ndarray,
    k: np.ndarray,
    tot_cu: np.ndarray,
    tot_cd: np.ndarray,
    resolution: float,
    m: float,
    seed: int,
    level: int,
    sweep: int,
    block: int,
    n_blocks: int,
    max_passes: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """One block's local-move phase for parallel Louvain (Grappolo-style).

    Inputs are one row per symmetric edge whose src is in this block:
    src/dst global vertex ids, w edge weight, cu/cd sweep-start community
    snapshots of the endpoints, k = src degree-strength, tot_cu/tot_cd =
    sweep-start Σ_tot of the endpoint communities. Ghost neighbors (dst not
    in the block) keep their snapshot community; block-internal neighbors
    see in-block updates. Σ_tot is tracked as snapshot + local delta, the
    cross-block reconciliation happening at the next sweep's refresh.

    Same CSR + per-node numpy construction as one_level_csr (the exact
    kernel): candidates scanned in ascending community order, strict '>'
    improvement, first max wins. Runs to in-block fixpoint (≤ max_passes).
    Returns (moved vertex ids, their new global community labels).
    """
    verts = np.unique(np.concatenate([src, dst]))
    nv = len(verts)
    su = np.searchsorted(verts, src)
    sv = np.searchsorted(verts, dst)

    com_g = np.empty(nv, dtype=np.int64)
    com_g[sv] = cd
    com_g[su] = cu
    k_v = np.zeros(nv, dtype=np.float64)
    k_v[su] = k

    # compact community universe: nodes only ever move to a NEIGHBOR's
    # community, so every reachable label is already in {cu} ∪ {cd}
    univ = np.unique(np.concatenate([cu, cd]))
    tot = np.zeros(len(univ), dtype=np.float64)
    tot[np.searchsorted(univ, cu)] = tot_cu
    tot[np.searchsorted(univ, cd)] = tot_cd
    comc = np.searchsorted(univ, com_g)
    init_comc = comc.copy()

    # CSR over the block's adjacency (src is always a block node)
    order = np.argsort(su, kind="stable")
    tails = sv[order]
    hw = np.asarray(w, dtype=np.float64)[order]
    indptr = np.zeros(nv + 1, dtype=np.int64)
    np.add.at(indptr, su + 1, 1)
    indptr = np.cumsum(indptr)

    act_pos = np.unique(su)
    if n_blocks > 1 and sweep > 0:
        # cross-block swap cycles (u⇄v trading communities every sweep)
        # never damp on their own: after the all-active consolidation
        # sweep 0, activate a deterministic pseudo-random half per sweep
        ids_u = verts[act_pos].astype(np.uint64)
        parity = (
            (ids_u * np.uint64(2654435761) + np.uint64(sweep * 40503))
            % np.uint64(2**32)
        ) >> np.uint64(16)
        act_pos = act_pos[(parity & np.uint64(1)) == 0]
    rng = np.random.RandomState(
        (seed + 1000003 * level + 7919 * sweep + 104729 * block) % (2**32)
    )
    act_pos = act_pos.copy()
    two_m = 2.0 * m

    for _ in range(max_passes):
        rng.shuffle(act_pos)
        pass_moved = 0
        for u in act_pos:
            cu_i = comc[u]
            ku = k_v[u]
            lo, hi = indptr[u], indptr[u + 1]
            nbr_coms = comc[tails[lo:hi]]
            nw = hw[lo:hi]
            cands, inv = np.unique(nbr_coms, return_inverse=True)
            dnc = np.zeros(len(cands))
            np.add.at(dnc, inv, nw)
            degc = ku / two_m
            pos_u = np.searchsorted(cands, cu_i)
            own_dnc = (
                dnc[pos_u] if pos_u < len(cands) and cands[pos_u] == cu_i else 0.0
            )
            remove_cost = -own_dnc + resolution * (tot[cu_i] - ku) * degc
            tot[cu_i] -= ku
            incr = remove_cost + dnc - resolution * tot[cands] * degc
            best_com = cu_i
            if len(incr):
                p = np.argmax(incr)
                if incr[p] > 0.0:
                    # strict '>' with ascending-com scan ⇒ first max wins
                    best_com = int(cands[np.flatnonzero(incr == incr[p])[0]])
            tot[best_com] += ku
            if best_com != cu_i:
                comc[u] = best_com
                pass_moved += 1
        if pass_moved == 0:
            break

    ch = np.flatnonzero(comc != init_comc)
    return verts[ch], univ[comc[ch]]
