"""Vectorized-CSR kernels for Louvain's local-move phase.

dendrogram_csr runs every remaining dendrogram level of one level graph
inside one applyInPandas task: parallel levels (parallel_level_csr, the
distributed sweeps replayed block for block) while the level graph has
more than tail_max nodes, then exact levels (one_level_csr). The
distributed sweeps run block_local_moves in each block's task.

All three make their moves through one pass, _local_pass, over a CSR
that _csr builds, and implement the pinned spec shared with
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

import math

import numpy as np

MIN_GAIN = 1e-7
# parallel levels: nodes per block; sweeps per level at most; a sweep
# moving fewer than this fraction of the nodes ends the level; passes per
# block and sweep at most
BLOCK_TARGET = 64
MAX_SWEEPS = 16
MIN_MOVED_FRAC = 0.02
MAX_PASSES = 10


def _symmetric(s: np.ndarray, d: np.ndarray, w: np.ndarray, n: int):
    """(heads, tails, w) of the non-loop edges in both directions, and each
    node's strength k (a self-loop counts twice)."""
    loop = s == d
    heads = np.concatenate([s[~loop], d[~loop]])
    tails = np.concatenate([d[~loop], s[~loop]])
    hw = np.concatenate([w[~loop], w[~loop]])
    k = np.bincount(heads, weights=hw, minlength=n) + 2.0 * np.bincount(
        s[loop], weights=w[loop], minlength=n
    )
    return heads, tails, hw, k


def _csr(heads: np.ndarray, tails: np.ndarray, w: np.ndarray, n: int):
    """(indptr, tails, w) of the rows grouped by head over n nodes, each
    head's rows in their input order."""
    order = np.argsort(heads, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(heads, minlength=n), out=indptr[1:])
    return indptr, tails[order], w[order]


def _local_pass(visit, indptr, tails, hw, com, tot, k, resolution, two_m) -> int:
    """One python-louvain move per node of visit, in that order; updates
    com and tot (Σ_tot per community) in place and returns how many nodes
    moved.

    A node leaves its community (remove cost) and joins the neighbouring
    community of largest gain, scanned in ascending community order with a
    strict '>' over 0: np.argmax's first maximum. It stays when none gains.
    """
    moved = 0
    for u in visit:
        cu = com[u]
        lo, hi = indptr[u], indptr[u + 1]
        cands, inv = np.unique(com[tails[lo:hi]], return_inverse=True)
        dnc = np.zeros(len(cands))
        np.add.at(dnc, inv, hw[lo:hi])
        degc = k[u] / two_m
        pos = np.searchsorted(cands, cu)
        own_dnc = dnc[pos] if pos < len(cands) and cands[pos] == cu else 0.0
        remove_cost = -own_dnc + resolution * (tot[cu] - k[u]) * degc
        tot[cu] -= k[u]
        incr = remove_cost + dnc - resolution * tot[cands] * degc
        best = cu
        if len(incr):
            p = np.argmax(incr)
            if incr[p] > 0.0:
                best = cands[p]
        tot[best] += k[u]
        if best != cu:
            com[u] = best
            moved += 1
    return moved


def one_level_csr(
    n: int,
    s: np.ndarray,
    d: np.ndarray,
    w: np.ndarray,
    resolution: float,
    seed: int,
    level: int,
) -> tuple[np.ndarray, float]:
    """One exact local-move phase over n nodes (python-louvain's
    __one_level).

    s/d: canonical edges as node indices, self-loops allowed; w: their
    weights (float64). Each pass visits all n nodes in a fresh shuffle
    and runs _local_pass; passes stop when one moves nothing or gains
    less than MIN_GAIN modularity. Returns (community per node,
    renumbered 0..k-1 by first appearance over ascending node order,
    modularity after the level).
    """
    m = float(w.sum())
    if m <= 0:
        return np.arange(n, dtype=np.int64), 0.0
    heads, tails, hw, k = _symmetric(s, d, w, n)
    indptr, tails, hw = _csr(heads, tails, hw, n)
    com = np.arange(n, dtype=np.int64)
    tot = k.copy()
    rng = np.random.RandomState((seed + 1000003 * level) % (2**32))

    def mod() -> float:
        inside = com[s] == com[d]
        internals = np.bincount(com[s][inside], weights=w[inside], minlength=n)
        return float((internals * resolution / m - (tot / (2.0 * m)) ** 2).sum())

    new_mod = mod()
    while True:
        cur_mod = new_mod
        visit = np.arange(n)
        rng.shuffle(visit)
        moved = _local_pass(visit, indptr, tails, hw, com, tot, k, resolution, 2.0 * m)
        new_mod = mod()
        if not moved or new_mod - cur_mod < MIN_GAIN:
            return _renumber(com), new_mod


def _renumber(com: np.ndarray) -> np.ndarray:
    """Labels 0..k-1 by first appearance over ascending node index."""
    _, first, inv = np.unique(com, return_index=True, return_inverse=True)
    return np.argsort(np.argsort(first))[inv]


def _modularity(
    com: np.ndarray, s: np.ndarray, d: np.ndarray, w: np.ndarray, resolution: float
) -> float:
    """quality.modularity of labels 0..k-1 over canonical edges (self-loops
    once in m and in their community, twice in its degree)."""
    m = float(w.sum())
    n = int(com.max()) + 1
    cs, cd = com[s], com[d]
    inside = cs == cd
    in_c = np.bincount(cs[inside], weights=w[inside], minlength=n)
    deg = np.bincount(cs, weights=w, minlength=n) + np.bincount(cd, weights=w, minlength=n)
    return float((in_c * resolution / m - (deg / (2.0 * m)) ** 2).sum())


def _coarsen(com, s, d, w):
    """The community graph: weights summed per community pair, self-loops
    kept. Returns (src, dst, w, node count)."""
    n = int(com.max()) + 1
    keys, inv = np.unique(
        np.minimum(com[s], com[d]) * n + np.maximum(com[s], com[d]),
        return_inverse=True,
    )
    return keys // n, keys % n, np.bincount(inv, weights=w), n


def dendrogram_csr(
    rep: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    resolution: float,
    seed: int,
    start_level: int,
    max_levels: int,
    tail_max: float = math.inf,
    sweeps: dict | None = None,
) -> tuple[np.ndarray, float, int]:
    """Every dendrogram level from start_level on, over one level graph.

    rep: per node, its min member vertex id; src/dst: edge endpoints as
    indices into rep, self-loops kept; w: edge weights (total > 0).
    Ranking the nodes by rep is the renumber of the level that built
    this graph (louvain._renumber). From level 0 the nodes are the
    vertices, and level 0 is always kept. Above it the previous level's
    modularity is the singleton partition's on this graph.

    While the level graph has more than tail_max nodes a level is a
    parallel one (parallel_level_csr with the keyword arguments `sweeps`),
    kept up to max(1, max_levels) levels and, above level 0, while it
    gains at least MIN_GAIN — louvain._levels' distributed loop. The rest
    are one_level_csr levels, kept while they gain at least MIN_GAIN, up
    to max_levels.

    Returns (final community per node, 0..k-1 in rep order; the
    modularity of the last kept level; the number of levels kept).
    """
    n = len(rep)
    order = np.argsort(rep, kind="stable")
    label = np.empty(n, dtype=np.int64)
    label[order] = np.arange(n)
    s, d = label[src], label[dst]
    w = np.asarray(w, dtype=np.float64)
    m = float(w.sum())
    final = label
    mod = None if start_level == 0 else _modularity(np.arange(n), s, d, w, resolution)
    level, kept = start_level, 0
    while n > tail_max:
        if level >= max(1, max_levels):
            return final, mod, kept
        # the blocks hash node ids: the vertex ids at level 0, the
        # renumbered 0..n-1 above it
        ids = rep[order] if level == 0 else np.arange(n)
        com = _renumber(
            parallel_level_csr(ids, s, d, w, m, resolution, seed, level, **sweeps)
        )
        new_mod = None
        if level > 0 or com.max() + 1 > tail_max:  # level 0 handing off has no check
            new_mod = _modularity(com, s, d, w, resolution)
            if level > 0 and new_mod - mod < MIN_GAIN:
                return final, mod, kept
        final, mod, kept = com[final], new_mod, kept + 1
        s, d, w, n = _coarsen(com, s, d, w)
        level += 1
    if kept:  # the exact levels start from the coarse graph's singletons
        mod = _modularity(np.arange(n), s, d, w, resolution)
    while level == 0 or level < max_levels:
        com, new_mod = one_level_csr(n, s, d, w, resolution, seed, level)
        if mod is not None and new_mod - mod < MIN_GAIN:
            break
        final, mod, kept = com[final], new_mod, kept + 1
        s, d, w, n = _coarsen(com, s, d, w)
        level += 1
    return final, mod, kept


_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
        0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
    )
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64(x: np.ndarray, int32: bool = False, seed: int = 42) -> np.ndarray:
    """Spark's xxhash64(col) (default seed 42) of each value, as int64.

    Spark hashes a long column as 8 bytes and an int, short or byte
    column as 4 (int32=True)."""
    v = np.ascontiguousarray(x, dtype=np.int64).view(np.uint64)
    if int32:
        h = (np.uint64(seed) + _P5 + np.uint64(4)) ^ ((v & np.uint64(0xFFFFFFFF)) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
    else:
        h = (np.uint64(seed) + _P5 + np.uint64(8)) ^ (_rotl(v * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return (h ^ (h >> np.uint64(32))).view(np.int64)


def sweep_plan(n: int, cores: int, n_blocks: int | None = None) -> tuple[int, int]:
    """(blocks, stop count) of a parallel level over n nodes.

    Without an explicit n_blocks the blocks scale to the graph: coarse
    levels collapse to one block (sequential local moves, guaranteed
    convergence), big ones fan out to one block per core of BLOCK_TARGET
    nodes or more. Sweeps stop once one moves fewer than MIN_MOVED_FRAC
    of the nodes — negligible modularity that the next level recovers —
    or, in one block, nothing.
    """
    if n_blocks is None:
        n_blocks = max(1, min(cores, n // BLOCK_TARGET))
    return n_blocks, max(1, int(n * MIN_MOVED_FRAC)) if n_blocks > 1 else 1


def parallel_level_csr(
    ids: np.ndarray,
    s: np.ndarray,
    d: np.ndarray,
    w: np.ndarray,
    m: float,
    resolution: float,
    seed: int,
    level: int,
    cores: int,
    int32: bool = False,
    n_blocks: int | None = None,
) -> np.ndarray:
    """One parallel level over a whole level graph, sweep for sweep the
    distributed one (louvain._one_level_parallel).

    ids: sorted node ids, the values the blocks hash (int32: as Spark
    hashes an int column); s/d: canonical edges as indices into ids,
    self-loops kept; w: weights; m: total weight; n_blocks: as in
    sweep_plan. Block b holds the symmetric non-loop rows whose
    src hashes to b (pmod(xxhash64(src), blocks)). Each sweep tags them
    with the sweep-start communities and Σ_tot, runs block_local_moves
    per block and only then applies every block's moves. Returns the
    community per node, labelled by a member's index.
    """
    n = len(ids)
    n_blocks, min_moved = sweep_plan(n, cores, n_blocks)
    heads, tails, hw, k = _symmetric(s, d, w, n)
    blk = np.mod(xxhash64(ids, int32), n_blocks)[heads]
    order = np.argsort(blk, kind="stable")
    heads, tails, hw = heads[order], tails[order], hw[order]
    bounds = np.searchsorted(blk[order], np.arange(n_blocks + 1))
    com = np.arange(n)
    for sweep in range(MAX_SWEEPS):
        tot = np.bincount(com, weights=k, minlength=n)
        new = com.copy()
        moved = 0
        for b in range(n_blocks):
            rows = slice(bounds[b], bounds[b + 1])
            u, v = heads[rows], tails[rows]
            if not len(u):  # no group reaches the distributed kernel
                continue
            cu, cv = com[u], com[v]
            mv, to = block_local_moves(
                ids[u], ids[v], hw[rows], ids[cu], ids[cv], k[u], tot[cu], tot[cv],
                resolution, m, seed, level, sweep, b, n_blocks,
            )
            new[np.searchsorted(ids, mv)] = np.searchsorted(ids, to)
            moved += len(mv)
        com = new
        if moved < min_moved:
            break
    return com


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
) -> tuple[np.ndarray, np.ndarray]:
    """One block's local-move phase for parallel Louvain (Grappolo-style).

    Inputs are one row per symmetric edge whose src is in this block:
    src/dst global vertex ids, w edge weight, cu/cd sweep-start community
    snapshots of the endpoints, k = src degree-strength, tot_cu/tot_cd =
    sweep-start Σ_tot of the endpoint communities. Ghost neighbors (dst not
    in the block) keep their snapshot community; block-internal neighbors
    see in-block updates. Σ_tot is tracked as snapshot + local delta, the
    cross-block reconciliation happening at the next sweep's refresh.

    The block's active nodes make _local_pass moves, the exact levels'
    move loop, over the block's CSR and a compact community universe,
    until a pass moves nothing (at most MAX_PASSES passes). Returns
    (moved vertex ids, their new global community labels).
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
    indptr, tails, hw = _csr(su, sv, np.asarray(w, dtype=np.float64), nv)

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
    for _ in range(MAX_PASSES):
        rng.shuffle(act_pos)
        if not _local_pass(act_pos, indptr, tails, hw, comc, tot, k_v, resolution, 2.0 * m):
            break

    ch = np.flatnonzero(comc != init_comc)
    return verts[ch], univ[comc[ch]]
