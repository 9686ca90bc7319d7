"""Louvain's CSR kernel (_louvain_kernel.dendrogram_csr) without Spark.

Twenty fixed random graphs (sparse vertex ids in a shuffled node order,
self-loops on half of them, unit, integer and fractional weights) run in
four configs: exact levels only, every level parallel with the sweep
plan's block count, every level parallel in 3 blocks, and 4-block
parallel levels handing off to exact ones below 20 nodes. PINNED holds
each run's partition digest, kept-level count and modularity, recorded
from the kernel before its exact and block passes shared one move loop;
a change to the move pass, the CSR layout or the block replay shows up
here without a Spark session. The exact config must also give
tests/oracle/louvain_ref's partition.
"""

import hashlib
import math

import numpy as np
import pytest

from louvain_spark.operators._louvain_kernel import dendrogram_csr
from tests.oracle import louvain_ref

N_GRAPHS = 20
# name → (tail_max, extra sweep options)
CONFIGS = {
    "exact": (math.inf, {}),
    "parallel": (0, {}),
    "blocks3": (0, {"n_blocks": 3}),
    "blocks4-tail20": (20, {"n_blocks": 4}),
}


def _graph(i: int):
    """(rep, src, dst, w, resolution, seed, int32) of graph i: rep is each
    node's vertex id, src/dst index rep, canonical by vertex id and
    distinct, with planted groups so the dendrogram has levels."""
    rng = np.random.default_rng(1000 + i)
    n = int(rng.integers(24, 180))
    rep = rng.permutation(rng.choice(2**31 - 1, n, replace=False)).astype(np.int64)
    group = rng.integers(0, max(2, n // 12), n)
    pairs = set()
    for _ in range(int(n * rng.uniform(1.5, 4.0))):
        u = int(rng.integers(n))
        mates = np.flatnonzero(group == group[u])
        v = int(rng.choice(mates)) if rng.random() < 0.75 else int(rng.integers(n))
        if u != v:
            pairs.add((u, v) if rep[u] < rep[v] else (v, u))
    if i % 2 == 0:
        pairs.update((u, u) for u in rng.choice(n, n // 8 + 1, replace=False).tolist())
    src, dst = (np.array(c, dtype=np.int64) for c in zip(*sorted(pairs)))
    if i % 3 == 0:
        w = np.ones(len(src))
    elif i % 3 == 1:
        w = rng.integers(1, 6, len(src)).astype(np.float64)
    else:
        w = rng.uniform(0.1, 3.0, len(src))
    return rep, src, dst, w, (3.0 if i % 4 == 3 else 1.0), i, i % 5 == 4


def _run(i: int, config: str):
    rep, src, dst, w, resolution, seed, int32 = _graph(i)
    tail_max, opts = CONFIGS[config]
    com, mod, kept = dendrogram_csr(
        rep, src, dst, w, resolution, seed, 0, 32,
        tail_max=tail_max, sweeps=dict(opts, cores=4, int32=int32),
    )
    return np.asarray(com, dtype=np.int64), mod, kept


def _digest(com: np.ndarray) -> str:
    return hashlib.sha1(com.tobytes()).hexdigest()[:16]


# (graph, config) → (partition digest, kept levels, modularity)
PINNED = {
    (0, 'exact'): ('167574a728c51870', 3, 0.5285066407515387),
    (0, 'parallel'): ('167574a728c51870', 3, 0.5285066407515387),
    (0, 'blocks3'): ('167574a728c51870', 3, 0.5285066407515387),
    (0, 'blocks4-tail20'): ('167574a728c51870', 2, 0.5285066407515387),
    (1, 'exact'): ('217da83912509650', 2, 0.6464520456799077),
    (1, 'parallel'): ('d082dd426ea0153a', 2, 0.6561369037950371),
    (1, 'blocks3'): ('7d7e77794d6fc95f', 2, 0.6419208913603589),
    (1, 'blocks4-tail20'): ('60d0b132c5f3878b', 3, 0.638679692177829),
    (2, 'exact'): ('0e34161ccb1a0517', 2, 0.663682733527547),
    (2, 'parallel'): ('0e34161ccb1a0517', 2, 0.663682733527547),
    (2, 'blocks3'): ('ab45d4cca6c34989', 2, 0.6522394784297478),
    (2, 'blocks4-tail20'): ('5aa7a13542f9a624', 3, 0.6672872518480926),
    (3, 'exact'): ('ee263e3dec9c901a', 2, 1.478318114975548),
    (3, 'parallel'): ('2fa6fc44cdb09a84', 2, 1.5256831161724975),
    (3, 'blocks3'): ('cc76a72e2c73a4a2', 2, 1.58643685236483),
    (3, 'blocks4-tail20'): ('b191ffe8adc746b4', 2, 1.5587360213398995),
    (4, 'exact'): ('80b7bdb0f07b6458', 3, 0.6791509555785123),
    (4, 'parallel'): ('1f4d5aed399ba2e9', 3, 0.6788152117768596),
    (4, 'blocks3'): ('b949d07b347d5c8e', 3, 0.6736660640495868),
    (4, 'blocks4-tail20'): ('435c9624471a5cfd', 3, 0.677991993801653),
    (5, 'exact'): ('404d0865343f2aec', 2, 0.61760834396113),
    (5, 'parallel'): ('9030741e9defdf58', 3, 0.6219037365162294),
    (5, 'blocks3'): ('f1cc4f45c640a620', 3, 0.6155624113965407),
    (5, 'blocks4-tail20'): ('924cdc30a64da85b', 3, 0.6174457527064628),
    (6, 'exact'): ('9aac0f4e3b014403', 2, 0.6217560232004758),
    (6, 'parallel'): ('9aac0f4e3b014403', 2, 0.621756023200476),
    (6, 'blocks3'): ('7189fd9f9087dcfc', 2, 0.6123866002379537),
    (6, 'blocks4-tail20'): ('8084d2c51427fb1a', 2, 0.6219140392623438),
    (7, 'exact'): ('b0789bcb495d77c3', 1, 1.0071532643065286),
    (7, 'parallel'): ('b0789bcb495d77c3', 1, 1.0071532643065284),
    (7, 'blocks3'): ('52688080739a8b93', 2, 1.2686542873085747),
    (7, 'blocks4-tail20'): ('2ec9401c7592d73e', 1, 1.1968581437162873),
    (8, 'exact'): ('abf8c9c8cdc50efb', 2, 0.6168781178787444),
    (8, 'parallel'): ('abf8c9c8cdc50efb', 2, 0.6168781178787445),
    (8, 'blocks3'): ('56fdee49ce8a3cab', 3, 0.6318510704123842),
    (8, 'blocks4-tail20'): ('d532897dfd6c93bc', 2, 0.6316987364861845),
    (9, 'exact'): ('480355d4aed72153', 3, 0.6529869029723692),
    (9, 'parallel'): ('c71cb90c33ccf9d5', 3, 0.6510061540250314),
    (9, 'blocks3'): ('42c0be04b0b12f84', 3, 0.6429129051815063),
    (9, 'blocks4-tail20'): ('61cf6f73b6515e2e', 3, 0.653418764378078),
    (10, 'exact'): ('5292a2691c43c44c', 3, 0.676505416429104),
    (10, 'parallel'): ('30d6c6191e1fa96d', 3, 0.679780697666769),
    (10, 'blocks3'): ('d78582ce14648530', 2, 0.6704866288759266),
    (10, 'blocks4-tail20'): ('c8c47910ad592c8f', 3, 0.6720021188763651),
    (11, 'exact'): ('0750128ef1ea0764', 2, 1.6283593695965382),
    (11, 'parallel'): ('ce810e82addff0dc', 2, 1.6307090653019651),
    (11, 'blocks3'): ('ce810e82addff0dc', 2, 1.630709065301965),
    (11, 'blocks4-tail20'): ('3c0881b1b7439c83', 2, 1.6153096722518703),
    (12, 'exact'): ('af3c4bb96a315ff8', 3, 0.6166468489892983),
    (12, 'parallel'): ('0ecad80217496424', 2, 0.6272929052715023),
    (12, 'blocks3'): ('469a1d38d85efc77', 2, 0.610875941339675),
    (12, 'blocks4-tail20'): ('4055126a9532d8f7', 2, 0.6150455806579469),
    (13, 'exact'): ('078167672bc0f7d0', 2, 0.4711112718049128),
    (13, 'parallel'): ('078167672bc0f7d0', 2, 0.4711112718049128),
    (13, 'blocks3'): ('078167672bc0f7d0', 3, 0.4711112718049128),
    (13, 'blocks4-tail20'): ('be8e5cfff965441c', 2, 0.4767182493770025),
    (14, 'exact'): ('0fd074c54a16ebdb', 3, 0.623706363464393),
    (14, 'parallel'): ('f648131749ce59c4', 3, 0.6182000091023645),
    (14, 'blocks3'): ('267133930bd87ed6', 3, 0.6137188043482116),
    (14, 'blocks4-tail20'): ('486664971c17d3b0', 3, 0.6191913660739315),
    (15, 'exact'): ('ca9b99101151e668', 2, 1.871752496301775),
    (15, 'parallel'): ('e9dc068d1593a6fa', 2, 1.8438193417159763),
    (15, 'blocks3'): ('f069b4b05d255289', 2, 1.8340768306213018),
    (15, 'blocks4-tail20'): ('a09c218017409ab3', 2, 1.8618366309171597),
    (16, 'exact'): ('6d06ffe51736d9f4', 3, 0.6412215598764084),
    (16, 'parallel'): ('df65a6a298a8bc35', 3, 0.6417309072750538),
    (16, 'blocks3'): ('88db81c7f7e269c3', 2, 0.6355513248650166),
    (16, 'blocks4-tail20'): ('ab5ef9cad88eb72e', 3, 0.6503261446271964),
    (17, 'exact'): ('f86450fbad53ec04', 3, 0.666063771323941),
    (17, 'parallel'): ('7b4ed2c08e941008', 3, 0.6670982687509477),
    (17, 'blocks3'): ('95ca665a532efbac', 3, 0.6611411958035451),
    (17, 'blocks4-tail20'): ('a0d0b6de171d26be', 3, 0.6649316347993659),
    (18, 'exact'): ('8df071e26494c253', 2, 0.669160981416919),
    (18, 'parallel'): ('d37b7dac3a9ad88b', 3, 0.668873175868813),
    (18, 'blocks3'): ('93deb839e7b41da8', 3, 0.6449133639889848),
    (18, 'blocks4-tail20'): ('95c186dcdfe07327', 3, 0.6710873162786744),
    (19, 'exact'): ('28ecf133b2b12d45', 2, 1.5383812716262977),
    (19, 'parallel'): ('28ecf133b2b12d45', 2, 1.5383812716262977),
    (19, 'blocks3'): ('6276c4444de2cce1', 3, 1.4865635813148788),
    (19, 'blocks4-tail20'): ('de6eb627a5838358', 2, 1.477310769896194),
}


@pytest.mark.parametrize("config", list(CONFIGS))
def test_dendrogram_matches_pinned(config):
    for i in range(N_GRAPHS):
        com, mod, kept = _run(i, config)
        want_digest, want_kept, want_mod = PINNED[i, config]
        assert (_digest(com), kept) == (want_digest, want_kept), (i, config)
        assert abs(mod - want_mod) < 1e-12, (i, config)


def test_exact_dendrogram_matches_oracle():
    for i in range(N_GRAPHS):
        rep, src, dst, w, resolution, seed, _ = _graph(i)
        com, mod, _ = _run(i, "exact")
        edges = list(zip(rep[src].tolist(), rep[dst].tolist(), w.tolist()))
        want = louvain_ref.best_partition(rep.tolist(), edges, resolution, seed)
        got = dict(zip(rep.tolist(), com.tolist()))
        assert _canon(got) == _canon(want), i
        assert abs(mod - louvain_ref.partition_modularity(rep.tolist(), edges, want, resolution)) < 1e-9


def _canon(partition: dict) -> dict:
    """Each community relabelled by its min member vertex id."""
    reps = {}
    for node, c in partition.items():
        reps[c] = min(reps.get(c, node), node)
    return {node: reps[c] for node, c in partition.items()}
