"""Semantic stage: featurizer determinism/normalization, block top-k ==
brute top-k == numpy golden (FIXTURES.md §4), weight blend semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from louvain_spark.functions.featurize import featurize_batch
from louvain_spark.operators.semantic import (
    blend_weights,
    featurize_fields,
    relation_weight_col,
    semantic_pairs,
)
from louvain_spark.operators.similarity import cosine_topk_blocked, cosine_topk_brute

import pandas as pd


DOCS = [
    (0, "alpha beta gamma delta", "why one", "how one", "title a"),
    (1, "alpha beta gamma delta", "why one", "how one", "title b"),  # near-dup of 0
    (2, "totally different text here", "other reason", "other method", "t"),
    (3, "alpha beta gamma epsilon", "why one", "how two", "title d"),
    (4, None, None, None, None),  # NULLs → '' (P1)
]
SCHEMA = "id long, name_text string, why_text string, how_text string, title_text string"


def test_featurizer_deterministic_unit_norm():
    a = featurize_batch(pd.Series(["hello world", "hello world", "x"]), dim=32)
    assert np.allclose(a[0], a[1])
    assert abs(np.linalg.norm(a[0]) - 1.0) < 1e-6
    assert a[0].dtype == np.float32
    z = featurize_batch(pd.Series([None]), dim=32)
    assert np.allclose(z[0], 0.0)


def test_topk_blocked_equals_brute_and_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 8).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)], "id long, vec array<float>"
    )
    brute = cosine_topk_brute(df, df, k=5).collect()
    blocked = cosine_topk_blocked(spark, df, df, k=5).collect()

    def norm(rows):
        return sorted((r["query_id"], r["rank"], r["item_id"], round(r["sim"], 5)) for r in rows)

    assert norm(brute) == norm(blocked)
    # numpy golden
    sims = vecs @ vecs.T
    np.fill_diagonal(sims, -np.inf)
    for q in range(30):
        order = np.lexsort((np.arange(30), -sims[q]))[:5]
        got = [r["item_id"] for r in sorted(blocked, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert got == list(order)


def test_semantic_pairs_near_dup(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    pairs = semantic_pairs(spark, docs, threshold=0.8, k=10, dim=64).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    assert (0, 1) in got  # identical name/why fields → blend ≈ 1.0
    for r in pairs:
        assert r["semantic_weight"] >= 0.8
    assert all(r["src"] < r["dst"] for r in pairs)


def test_relation_weight_distinct_mean(spark):
    df = spark.createDataFrame(
        [(["tool", "conv"],), (["role", "role", "tool"],), ([],)],
        "etypes array<string>",
    )
    got = [
        r[0]
        for r in df.select(relation_weight_col(F.col("etypes")).alias("w")).collect()
    ]
    assert abs(got[0] - (0.7 + 0.1) / 2) < 1e-9
    assert abs(got[1] - (0.1 + 0.1 + 0.7) / 3) < 1e-9
    assert got[2] == 0.0


def test_blend_weights_default_zero_semantic(spark):
    edges = spark.createDataFrame(
        [(0, 1, 2.0, ["tool"]), (1, 2, 1.0, ["conv"])],
        "src long, dst long, weight double, etypes array<string>",
    )
    sem = spark.createDataFrame([(0, 1, 0.9)], "src long, dst long, semantic_weight double")
    out = {(r["src"], r["dst"]): r for r in blend_weights(edges, sem).collect()}
    r01 = out[(0, 1)]
    assert abs(r01["final_weight"] - (0.7 * 0.9 + 0.3 * 0.7)) < 1e-9
    r12 = out[(1, 2)]
    assert r12["semantic_weight"] == 0.0
    assert abs(r12["final_weight"] - 0.3 * 0.1) < 1e-9


def test_featurize_fields_combined_unit(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    emb = featurize_fields(docs, dim=32)
    rows = emb.select("id", "_v_combined").collect()
    for r in rows:
        v = np.array(r["_v_combined"])
        n = np.linalg.norm(v)
        assert n == 0.0 or abs(n - 1.0) < 1e-5


def test_topk_blocked_multichunk_matches_brute(spark):
    """Force >1 item chunk and >1 query block: the cogrouped block
    nested-loop must still produce the exact global top-k (VERDICT r1 #4 —
    no driver collect of the item matrix in the code path)."""
    import inspect

    from louvain_spark.operators import similarity

    rng = np.random.RandomState(3)
    vecs = rng.randn(57, 8).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(57)],
        "id long, vec array<float>",
    )
    brute = cosine_topk_brute(df, df, k=4).collect()
    blocked = cosine_topk_blocked(
        spark, df, df, k=4, query_block_rows=10, item_block_rows=13
    ).collect()

    def norm(rows):
        return sorted(
            (r["query_id"], r["rank"], r["item_id"], round(r["sim"], 5)) for r in rows
        )

    assert norm(brute) == norm(blocked)
    src = inspect.getsource(similarity.cosine_topk_blocked)
    assert ".collect()" not in src and "broadcast" not in src


def test_lsh_ann_recall_and_exact_rerank(spark):
    """LSH-bucketed approximate ANN: high recall on clustered vectors
    (near neighbors share sign-projection buckets), and every returned
    sim is the exact dot product (re-rank is exact, only the candidate
    set is approximate)."""
    from louvain_spark.operators.similarity import cosine_topk_lsh

    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for m in range(48):
        v = centers[m % 8] + 0.05 * rng.randn(16)
        vecs.append(v / np.linalg.norm(v))
    vecs = np.array(vecs, dtype=np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(48)],
        "id long, vec array<double>",
    )
    brute = cosine_topk_brute(df, df, k=3).collect()
    lsh = cosine_topk_lsh(
        spark, df, df, k=3, dim=16, n_planes=4, n_tables=8, seed=1
    ).collect()
    want = {(r["query_id"], r["item_id"]) for r in brute}
    got = {(r["query_id"], r["item_id"]) for r in lsh}
    recall = len(want & got) / len(want)
    assert recall >= 0.8, recall
    for r in lsh:
        assert abs(r["sim"] - float(vecs[r["query_id"]] @ vecs[r["item_id"]])) < 1e-9


def test_lsh_hot_bucket_cap_clustered(spark):
    """VERDICT r3 #3 — clustered near-duplicate embeddings send whole
    clusters into one bucket per table (hot cells). Asserts: (a) the
    candidate set stays well under |Q|x|I| even uncapped; (b) max_bucket
    shrinks it further by capping hot cells on the item side (cost
    |q_cell|*cap, linear in cluster size, instead of |cell|^2); (c) exact
    re-rank keeps recall@10 vs the blocked exact result above a pinned
    floor in both modes. All values deterministic (seeded data + md5
    planes)."""
    from louvain_spark.operators.similarity import (
        _lsh_candidates,
        cosine_topk_lsh,
        rademacher_planes,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vs = []
    for j in range(800):  # 4 tight clusters of 200 near-dups each
        v = centers[j % 4] + 0.02 * rng.randn(16)
        vs.append(v / np.linalg.norm(v))
    for j in range(100):  # background
        v = rng.randn(16)
        vs.append(v / np.linalg.norm(v))
    n = len(vs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vs[i]]) for i in range(n)],
        "id long, vec array<double>",
    ).localCheckpoint(eager=True)

    exact = cosine_topk_blocked(spark, df, df, k=10).collect()
    planes = rademacher_planes(16, 8, 4, 42)
    q = df.select(F.col("id").alias("query_id"), F.col("vec").alias("_qv"))
    it = df.select(F.col("id").alias("item_id"), F.col("vec").alias("_iv"))
    n_unc = _lsh_candidates(q, it, planes, 4, True, None).count()
    n_cap = _lsh_candidates(q, it, planes, 4, True, 64).count()
    assert n_unc < 0.3 * n * n, (n_unc, n * n)   # bucketing prunes 80%+
    assert n_cap < 0.8 * n_unc, (n_cap, n_unc)   # cap bites on hot cells

    want = {(r["query_id"], r["item_id"]) for r in exact}
    for mb, floor in ((None, 0.90), (64, 0.70)):
        got = {
            (r["query_id"], r["item_id"])
            for r in cosine_topk_lsh(
                spark, df, df, k=10, dim=16, n_planes=8, n_tables=4, max_bucket=mb
            ).collect()
        }
        recall = len(want & got) / len(want)
        assert recall >= floor, (mb, recall)


def test_ivf_topk_clustered_recall(spark):
    """IVF-Flat ANN (the data-adaptive counterpart of the LSH path): a
    deterministic spherical-kmeans coarse quantizer partitions items into
    lists; queries probe n_probe lists and re-rank exactly. On clustered
    embeddings the candidate set must stay well under |Q|x|I| while
    recall@10 vs the blocked exact result clears a pinned floor, and the
    trained index must be a pure function of the data (identical across
    two training runs)."""
    from louvain_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vs = []
    for j in range(800):
        v = centers[j % 4] + 0.02 * rng.randn(16)
        vs.append(v / np.linalg.norm(v))
    for j in range(100):
        v = rng.randn(16)
        vs.append(v / np.linalg.norm(v))
    n = len(vs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vs[i]]) for i in range(n)],
        "id long, vec array<double>",
    ).localCheckpoint(eager=True)

    exact = cosine_topk_blocked(spark, df, df, k=10).collect()
    want = {(r["query_id"], r["item_id"]) for r in exact}

    ivf = cosine_topk_ivf(
        spark, df, df, k=10, dim=16, n_lists=16, n_probe=4
    ).collect()
    got = {(r["query_id"], r["item_id"]) for r in ivf}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall
    # every returned sim is the exact dot product (re-rank is exact)
    for r in ivf[:50]:
        assert abs(r["sim"] - float(np.dot(vs[r["query_id"]], vs[r["item_id"]]))) < 1e-9

    # the trained index must be reproducible (pure function of the data)
    c1 = train_ivf_centroids(
        df.select(F.col("id").alias("item_id"), F.col("vec").alias("_iv")),
        16, n_lists=16, i_vec="_iv", i_id="item_id",
    )
    c2 = train_ivf_centroids(
        df.select(F.col("id").alias("item_id"), F.col("vec").alias("_iv")),
        16, n_lists=16, i_vec="_iv", i_id="item_id",
    )
    assert c1 == c2, "IVF training must be deterministic"


def test_ivf_pretrained_centroids_same_topk(spark):
    """Passing the centroids a self-trained run trains (the index is a pure
    function of the data) reproduces that run's top-k exactly."""
    from louvain_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(3, 16)
    rows = []
    for j in range(240):
        v = centers[j % 3] + 0.05 * rng.randn(16)
        rows.append((j, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    def topk(**kw):
        return sorted(
            (r["query_id"], r["item_id"], r["rank"], r["sim"])
            for r in cosine_topk_ivf(
                spark, df, df, k=5, dim=16, n_lists=8, n_probe=2, **kw
            ).collect()
        )

    trained = topk()
    centroids = train_ivf_centroids(df, 16, n_lists=8)
    assert topk(centroids=centroids) == trained


def test_lsh_rerank_modes_identical(spark):
    """The bucket-cell scoring (score inside the bucket join, dedup by
    max) must return byte-identical rows to rejoining the vectors to each
    unique candidate pair from _lsh_candidates and scoring it there —
    with and without the hot-cell cap."""
    import numpy as np
    from pyspark.sql import Window

    from louvain_spark.operators.similarity import (
        _lsh_candidates,
        cosine_topk_lsh,
        dot_col,
        rademacher_planes,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16))
    rows = []
    for i in range(150):
        v = base[i % 6] + 0.05 * rng.normal(size=16)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    qs = df.select(F.col("id").alias("query_id"), F.col("vec").alias("_qv"))
    its = df.select(F.col("id").alias("item_id"), F.col("vec").alias("_iv"))
    planes = rademacher_planes(16, 6, 3)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())

    def collect(top):
        return sorted(
            (r["query_id"], r["item_id"], r["rank"], round(r["sim"], 9))
            for r in top.collect()
        )

    for cap in (None, 8):
        got = {}
        got["bucket"] = collect(cosine_topk_lsh(
            spark, df, df, k=5, dim=16, n_planes=6, n_tables=3, max_bucket=cap,
        ))
        scored = (
            _lsh_candidates(qs, its, planes, 3, True, cap)
            .join(qs, "query_id")
            .join(its, "item_id")
            .select("query_id", "item_id", dot_col(F.col("_qv"), F.col("_iv")).alias("sim"))
        )
        got["rejoin"] = collect(
            scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)
        )
        assert got["bucket"] == got["rejoin"], f"cap={cap}"
