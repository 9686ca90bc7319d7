"""Top-k cosine similarity joins (J2/W1) + ANN over embedding columns.

Two physical strategies (SURVEY.md §4.2):

- brute: crossJoin + JVM-side dot product (zip_with/aggregate higher-order
  functions — no Python) + per-query window top-k. Exact; fine when
  |queries|×|items| is small or as the verification baseline.

- blocked: block nested-loop as a cogrouped Arrow kernel. Queries are
  hash-bucketed into query blocks, items into item chunks; each (block,
  chunk) cell cogroups on the executors and a numpy matmul emits the
  cell's per-query top-k, then one window merges chunk-local top-k's into
  the global top-k (k small, so the merge input is |Q|·chunks·k rows).
  Fully distributed: no driver collect, no whole-matrix broadcast — the
  item side streams through executors one chunk per task, which is the
  scale path when the item set exceeds any single memory (the reference's
  sklearn brute kNN, /root/reference/tool/Neo4jLouvainProcessor.py:109-153,
  holds the full matrix in one process — this replaces that memory model).
  Replication cost is explicit: queries × chunks + items × blocks rows
  through one shuffle.

Vectors are assumed L2-normalized (dot == cosine), as the reference
normalizes before caching (/root/reference/tool/Neo4jLouvainProcessor.py:96).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def dot_col(a, b):
    """JVM-side dot product of two array<float/double> columns (F8): a
    left fold (((0.0 + x0·y0) + x1·y1) + …, float operands promoted to
    double per element. The one-task migration's numpy scores
    (streaming/incremental._top1, behind remap_kernel) copy this fold
    order and must change with it."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_brute(
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    q_id: str = "id",
    q_vec: str = "vec",
    i_id: str = "id",
    i_vec: str = "vec",
    min_sim: float | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, item_id, sim, rank) — exact top-k by cosine, desc."""
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"))
    i = items.select(F.col(i_id).alias("item_id"), F.col(i_vec).alias("_iv"))
    pairs = q.crossJoin(i)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("item_id"))
    scored = pairs.select(
        "query_id",
        "item_id",
        dot_col(F.col("_qv"), F.col("_iv")).alias("sim"),
    )
    if min_sim is not None:
        scored = scored.where(F.col("sim") >= min_sim)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _topk_core(
    qids, qv, b_ids, mat, kk: int, thr: float | None, excl: bool,
    block_rows: int | None = None,
):
    """Vectorized cell top-k: blocked matmul + batched argpartition/
    lexsort, no per-row python. Returns (query_id, item_id, sim)
    int64/int64/f64 numpy arrays, rows grouped by query in input order,
    each query's candidates sorted by sim desc then item_id asc.

    Query rows are processed in blocks sized so the score matrix stays
    ~16MB, with the score buffer preallocated once and reused across
    blocks (matmul out=, in-place negate, sparse self-exclusion writes).
    Two reasons, both measured (BENCH/BASELINE.md r5):
    (a) peak memory — an unblocked hot cell (e.g. 30k queries × 5k
    items) transiently allocates ~4GB of fp64/int64 temporaries, an OOM
    risk at 4g/core executors; (b) allocation churn — full-width
    temporaries sit far above glibc's dynamic mmap threshold, so every
    cell mmap/munmap-faults hundreds of MB, which on a busy host stalls
    the same argpartition 20x run-to-run (0.7s → 17s on identical
    input). 16MB blocks keep every per-block temporary (score buffer,
    argpartition index array) under glibc's 32MB dynamic-threshold cap,
    so after the first free they recycle on the heap.

    Per-row selection is bit-identical to the unblocked formulation
    (same per-row argpartition head on the same negated values, same
    (item_id, -sim) lexsort keys) — the ANN goldens pin this.

    Ties at the k-th place are not broken by item id: argpartition picks
    an arbitrary subset of the items tied at the boundary before the
    lexsort orders it (items 40, 30, 20 tied at 1.0 give 40 for k=1,
    where cosine_topk_brute's window gives 20)."""
    nq, ni = qv.shape[0], mat.shape[0]
    n_take = min(kk, ni)
    if block_rows is None:
        block_rows = max(64, (16 << 20) // max(1, ni * 8))
    block_rows = min(block_rows, nq)
    if excl:
        # item ids are unique within a cell, so the dense
        # (qids[:,None] == b_ids[None,:]) mask has at most one hit per
        # row — locate it by binary search instead of materializing an
        # (nq, ni) comparison + np.where copy.
        b_order = np.argsort(b_ids, kind="stable")
        sorted_b = b_ids[b_order]
    sims_buf = np.empty((block_rows, ni), dtype=np.float64)
    chunks_q, chunks_i, chunks_s = [], [], []
    for a in range(0, nq, block_rows):
        b = min(nq, a + block_rows)
        sims = sims_buf[: b - a]
        np.matmul(qv[a:b], mat.T, out=sims)
        if excl:
            pos = np.minimum(np.searchsorted(sorted_b, qids[a:b]), ni - 1)
            rows = np.nonzero(sorted_b[pos] == qids[a:b])[0]
            sims[rows, b_order[pos[rows]]] = -np.inf
        np.negative(sims, out=sims)  # ascending partition == sim desc
        part = np.argpartition(sims, n_take - 1, axis=1)[:, :n_take]
        neg_s = np.take_along_axis(sims, part, axis=1)
        pids = b_ids[part]
        order = np.lexsort((pids, neg_s), axis=1)
        sel_s = -np.take_along_axis(neg_s, order, axis=1)
        sel_i = np.take_along_axis(pids, order, axis=1)
        keep = sel_s > -np.inf
        if thr is not None:
            keep &= sel_s >= thr
        keep = keep.ravel()
        chunks_q.append(np.repeat(qids[a:b], n_take)[keep])
        chunks_i.append(sel_i.ravel()[keep])
        chunks_s.append(sel_s.ravel()[keep])
    out_q = np.concatenate(chunks_q) if len(chunks_q) != 1 else chunks_q[0]
    out_i = np.concatenate(chunks_i) if len(chunks_i) != 1 else chunks_i[0]
    out_s = np.concatenate(chunks_s) if len(chunks_s) != 1 else chunks_s[0]
    return (
        out_q.astype(np.int64, copy=False),
        out_i.astype(np.int64, copy=False),
        out_s.astype(np.float64, copy=False),
    )


def _list_col_to_matrix(tbl, name: str) -> np.ndarray:
    """Arrow list<float> column → (n, dim) float64 matrix, zero-copy on
    the flattened values buffer (no per-row ndarray objects — the pandas
    conversion cost this kernel exists to avoid)."""
    col = tbl.column(name)
    if col.num_chunks != 1:
        col = col.combine_chunks()
    arr = col.chunk(0) if hasattr(col, "chunk") else col
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    n = len(arr)
    return flat.reshape(n, len(flat) // n).astype(np.float64)


def _make_topk_cell_arrow(kk: int, thr: float | None, excl: bool):
    """Shared cogroup cell kernel for the blocked and IVF paths: one numpy
    matmul per (query-block × item-chunk) cell, emitting the cell-local
    per-query top-kk as (query_id, item_id, sim) — a later window merges
    cell-local top-k's into the global top-k. Tables may carry extra key
    columns (block/list/chunk ids); only query_id/_qv and item_id/_iv are
    read.

    Arrow-native (applyInArrow): the vector columns land as one
    contiguous values buffer reshaped into the matmul operand, and the
    result goes back as three flat arrays — profiled against the
    applyInPandas form of the same math at the scaling preset (60k
    vectors, 64 lists), where pandas list-column materialization plus a
    per-row top-k loop made the IVF re-rank ~8x slower than its matmul
    work (BENCH/BASELINE.md r5)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [("query_id", pa.int64()), ("item_id", pa.int64()), ("sim", pa.float64())]
    )

    def cell(qt: "pa.Table", it: "pa.Table") -> "pa.Table":
        if qt.num_rows == 0 or it.num_rows == 0:
            return out_schema.empty_table()
        qids = qt.column("query_id").to_numpy()
        b_ids = it.column("item_id").to_numpy()
        qv = _list_col_to_matrix(qt, "_qv")
        mat = _list_col_to_matrix(it, "_iv")
        out_q, out_i, out_s = _topk_core(qids, qv, b_ids, mat, kk, thr, excl)
        return pa.table(
            {"query_id": out_q, "item_id": out_i, "sim": out_s}, schema=out_schema
        )

    return cell


def cosine_topk_blocked(
    spark: SparkSession,
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    q_id: str = "id",
    q_vec: str = "vec",
    i_id: str = "id",
    i_vec: str = "vec",
    min_sim: float | None = None,
    exclude_self: bool = True,
    query_block_rows: int = 8192,
    item_block_rows: int = 65536,
) -> DataFrame:
    """Same contract as cosine_topk_brute via cogrouped numpy blocks.

    Exact (it is a complete block nested-loop, not approximate): the
    global top-k per query is the window-merge of each item-chunk's local
    top-k. Sizing: each task holds one query block × one item chunk
    (default ≤8192×65536 sims ≈ 4GB float64 worst case at full blocks —
    the defaults keep cells well under that because blocks hash-balance).
    """
    # snapshot both sides once (LAZY localCheckpoint): the block-sizing
    # counts and the cogroup would otherwise re-execute the callers' (often
    # pandas-UDF) lineage 2x each. The returned frame reads both
    # snapshots, so their blocks stay until the JVM garbage-collects them
    # (the lifetime rule in plans/loop.py): unpersist() does not free a
    # localCheckpoint, and releasing one here would break the result.
    # Lazy, not eager (r3 VERDICT #2): the sizing count() right below
    # triggers materialization, so each side pays exactly ONE action;
    # eager paid a full materialization pass plus a separate count job.
    q = queries.select(
        F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv")
    ).localCheckpoint(eager=False)
    i = items.select(
        F.col(i_id).alias("item_id"), F.col(i_vec).alias("_iv")
    ).localCheckpoint(eager=False)
    out_schema = "query_id long, item_id long, sim double"
    n_q, n_i = q.count(), i.count()
    if n_q == 0 or n_i == 0:
        return spark.createDataFrame([], out_schema + ", rank int")
    qb = max(1, math.ceil(n_q / query_block_rows))
    ib = max(1, math.ceil(n_i / item_block_rows))
    q2 = q.withColumn(
        "_qb", F.pmod(F.xxhash64("query_id"), F.lit(qb)).cast("int")
    ).withColumn("_ib", F.explode(F.array(*[F.lit(x) for x in range(ib)])))
    i2 = i.withColumn(
        "_ib", F.pmod(F.xxhash64("item_id"), F.lit(ib)).cast("int")
    ).withColumn("_qb", F.explode(F.array(*[F.lit(x) for x in range(qb)])))
    cell = _make_topk_cell_arrow(int(k), min_sim, bool(exclude_self))

    cand = (
        q2.groupby("_qb", "_ib")
        .cogroup(i2.groupby("_qb", "_ib"))
        .applyInArrow(cell, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= int(k))


# ---------------------------------------------------------------------------
# LSH-bucketed approximate ANN (the 100TB scale path)
# ---------------------------------------------------------------------------

def rademacher_planes(
    dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> list[list[list[float]]]:
    """±1 sign-projection planes, deterministically derived from md5 —
    the same bytes on any engine, so an oracle can replay the bucketing
    (planes[table][plane][i] ∈ {+1.0, -1.0})."""
    import hashlib

    return [
        [
            [
                1.0
                if hashlib.md5(f"{seed}:{t}:{p}:{i}".encode()).digest()[0] < 128
                else -1.0
                for i in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _bucket_keys_udf(planes, n_tables: int):
    """All n_tables bucket keys for a vector as ONE vectorized Arrow
    kernel call (pandas_udf → array<string>), replacing n_tables·n_planes
    interpreted Catalyst HOF folds per row (measured 3.1s per side at
    30k×64-dim ×40 planes vs ~0.4s for this kernel).

    Key for table t: f"{t}:" followed by one sign bit per plane, '1' when
    the vector's projection onto the ±1 plane is `>= 0`. The projection is
    a left fold — per dimension i, acc = acc + vec[i]·plane[i] in float64,
    vectorized ACROSS rows/planes (the numpy loop runs over dims, so each
    element's additions happen in dimension order) — the same fold the
    DuckDB twin in the oracle evaluates. Planes are closure-captured
    (O(n_tables·n_planes·dim) floats, shipped once per executor)."""
    sign = [np.asarray(t, dtype=np.float64) for t in planes[:n_tables]]  # (planes, dim)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def keys(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = np.array(list(vec), dtype=np.float64)  # (n, dim)
        n, dim = x.shape
        row_keys: list[list[str]] = [[] for _ in range(n)]
        for t, pl in enumerate(sign):
            proj = np.zeros((n, pl.shape[0]))
            for i in range(dim):
                # acc + x_i·s_i per element, the exact HOF fold order
                proj += x[:, i : i + 1] * pl[:, i][None, :]
            bits = np.where(proj >= 0, "1", "0")
            prefix = f"{t}:"
            for r in range(n):
                row_keys[r].append(prefix + "".join(bits[r]))
        return pd.Series(row_keys)

    return keys


def _cap_items(ib: DataFrame, max_bucket: int) -> DataFrame:
    """Two-level exact hot-cell cap (see _lsh_candidates docstring).

    Works on any frame with (item_id, bucket [, payload...]) — level 1
    caps 64 hash-salted subgroups so no window task holds a whole hot
    bucket; level 2 sees <= 64*max_bucket rows per bucket and returns the
    IDENTICAL subset a direct per-bucket window would."""
    hk = F.xxhash64("item_id", F.col("bucket"))
    ib = ib.withColumn("_salt", F.pmod(hk, F.lit(64)).cast("int"))
    w1 = Window.partitionBy("bucket", "_salt").orderBy(
        hk.asc(), F.col("item_id").asc()
    )
    ib = (
        ib.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= max_bucket)
        .drop("_r", "_salt")
    )
    w2 = Window.partitionBy("bucket").orderBy(hk.asc(), F.col("item_id").asc())
    return (
        ib.withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") <= max_bucket)
        .drop("_r")
    )


def _lsh_candidates(
    q: DataFrame,
    i: DataFrame,
    planes,
    n_tables: int,
    exclude_self: bool,
    max_bucket: int | None,
) -> DataFrame:
    """(query_id, item_id) candidate pairs sharing a bucket in any table.

    max_bucket caps the ITEM side of every bucket cell to that many
    members (deterministic pseudo-random pick, different subset per
    table), bounding a hot cell at |q_cell|·max_bucket pairs — linear,
    not quadratic, in cluster size for clustered/near-duplicate data. The
    query side is deliberately NOT capped: every query keeps candidates
    in every table (see the inline comment for the measured recall cost
    of two-sided capping). Capping trades recall only among items
    sharing a capped bucket; other tables can still recover the pair."""
    keys = _bucket_keys_udf(planes, n_tables)
    qb = q.select("query_id", F.explode(keys(F.col("_qv"))).alias("bucket"))
    ib = i.select("item_id", F.explode(keys(F.col("_iv"))).alias("bucket"))
    if max_bucket is not None:
        # cap the ITEM side only: a hot cell costs |q_cell|·max_bucket
        # (linear in cluster size) instead of |cell|², and every query
        # still receives candidates — capping the query side too would
        # drop capped-out queries from the table entirely (measured
        # recall@10 0.47 vs 0.73 on 200-member near-dup clusters).
        # Ordering by hash(id, bucket): the bucket string embeds the table
        # index, so each table keeps a DIFFERENT subset of a hot cluster
        # and the union across tables recovers most true neighbors.
        #
        # Two-level EXACT selection, so no window task ever holds a whole
        # hot bucket (a direct partitionBy("bucket") window would funnel
        # the very cell the cap exists to bound through one task): level 1
        # caps each of 64 hash-salted subgroups at max_bucket rows
        # (per-task input ≈ |bucket|/64); the global smallest-max_bucket
        # of a bucket under a total order are necessarily within their
        # subgroup's smallest-max_bucket, so level 2's window sees at most
        # 64·max_bucket rows per bucket and returns the IDENTICAL subset
        # a direct per-bucket window would.
        ib = _cap_items(ib, max_bucket)
    # bucket join + dedup on BARE IDS — at 1024-dim embeddings, carrying
    # vectors through the distinct would shuffle ~8KB/row; instead the
    # widest exchanges (bucket join, dedup) move only (bucket, id) /
    # (query_id, item_id), and vectors rejoin once for exact scoring
    cand = qb.join(ib, "bucket").drop("bucket")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("item_id"))
    return cand.dropDuplicates(["query_id", "item_id"])


def cosine_topk_lsh(
    spark: SparkSession,
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    q_id: str = "id",
    q_vec: str = "vec",
    i_id: str = "id",
    i_vec: str = "vec",
    min_sim: float | None = None,
    exclude_self: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """APPROXIMATE top-k cosine via sign-random-projection LSH.

    Each of n_tables tables buckets vectors by the sign pattern of
    n_planes Rademacher projections; candidates are pairs sharing a
    bucket in ANY table, scored exactly (JVM dot) and window-top-k'd.
    Cost is Σ bucket-cell sizes (expected |Q|·|I| / 2^n_planes per
    table) instead of |Q|·|I|: the scale path when even the blocked
    nested-loop is too much. Recall rises with n_tables, selectivity
    with n_planes; max_bucket bounds hot cells on clustered data (see
    _lsh_candidates — the analog of the reference's kNN candidate cap,
    tool/Neo4jLouvainProcessor.py:109-153). Deterministic (md5-seeded
    planes) and, at max_bucket=None, fully SQL-expressible — the driver
    oracle replays it verbatim.

    The exact dot runs inside the bucket join: vectors ride the bucket
    shuffle (once per table per vector) into cogrouped Arrow cells — one
    numpy matmul per bucket cell emitting the cell's per-query top-k
    (exact: a global top-k pair outranks all but <k candidates in any
    cell containing it, and cross-table duplicates carry identical sims,
    deduped by max) — so the only pair-wide exchange is the narrow
    (query_id, item_id, sim) dedup groupBy, bounded at |Q|·n_tables·k
    rows. Pair bytes: ~24·|Q|·n_tables·k + n_tables·(|Q|+|I|)·dim_bytes.
    On clustered/near-dup corpora candidates per query ≫ 2·n_tables, and
    the r5 10× advisory measured a form that rejoins the vectors to each
    unique candidate (_lsh_candidates) at ~130 GB of shuffle for 600k
    clustered 64-dim vectors (killed two hosts' tmpfs) vs ~4 GB for this
    form (r7: the former in-join JVM pair dot — 10M wide join rows +
    interpreted HOF fold — measured 10.5s vs ~2s for the cogrouped cells
    at the 30k bench shape). Neither side is snapshotted here, so every
    action on the result (a count, then a collect) re-runs the callers'
    upstream lineage — often a pandas-UDF featurize — once more;
    localCheckpoint the inputs or the result when you take several
    actions.
    """
    planes = rademacher_planes(dim, n_planes, n_tables, seed)
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"))
    i = items.select(F.col(i_id).alias("item_id"), F.col(i_vec).alias("_iv"))
    keys = _bucket_keys_udf(planes, n_tables)
    qb = q.select("query_id", "_qv", F.explode(keys(F.col("_qv"))).alias("bucket"))
    ib = i.select("item_id", "_iv", F.explode(keys(F.col("_iv"))).alias("bucket"))
    if max_bucket is not None:
        ib = _cap_items(ib, max_bucket)
    # Score each bucket CELL in the shared cogrouped Arrow kernel (one
    # numpy matmul per cell, 16MB-blocked) instead of materializing every
    # (query, item) pair as a wide JVM join row and folding an interpreted
    # per-pair dot: at the 30k×64-dim bench shape the join emitted 10M+
    # rows each dragging two 512B vectors (~10 GB of row copies) and the
    # HOF dot was CodegenFallback — measured 10.5s for join+dot+dedup vs
    # ~2s for the cogrouped form. Emitting only each cell's per-query
    # top-k is exact: a pair in the GLOBAL top-k outranks all but <k
    # candidates in any cell containing it (cells are candidate subsets),
    # so it survives every cell's local top-k; cross-table duplicate
    # pairs carry identical sims, which the max() dedup collapses.
    # min_sim/self-exclusion happen in-kernel.
    cell = _make_topk_cell_arrow(int(k), min_sim, bool(exclude_self))
    pair = (
        qb.groupby("bucket")
        .cogroup(ib.groupby("bucket"))
        .applyInArrow(cell, "query_id long, item_id long, sim double")
    )
    scored = pair.groupBy("query_id", "item_id").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def train_ivf_centroids(
    items: DataFrame,
    dim: int,
    n_lists: int = 64,
    kmeans_iters: int = 5,
    sample: int = 4096,
    i_vec: str = "vec",
    i_id: str = "id",
) -> list[list[float]]:
    """Deterministic spherical k-means coarse quantizer for IVF.

    Trains on a bounded, hash-ordered sample (O(sample·dim) driver memory —
    the ONLY driver-side step of the IVF path, and it is capped regardless
    of |items|): init = first n_lists vectors in xxhash64(id) order,
    assign by max dot product, recenter + re-normalize, fixed iteration
    count. Pure function of the data — no RNG — so the index is
    reproducible across runs and masters.
    """
    rows = (
        items.select(F.col(i_id).alias("_id"), F.col(i_vec).alias("_v"))
        .orderBy(F.xxhash64("_id").asc(), F.col("_id").asc())
        .limit(int(sample))
        .collect()
    )
    x = np.array([list(r["_v"]) for r in rows], dtype=np.float64)
    if len(x) == 0:
        raise ValueError("cannot train IVF centroids on an empty item table")
    if x.shape[1] != dim:
        raise ValueError(
            f"IVF dim mismatch: declared dim={dim} but vectors are "
            f"{x.shape[1]}-dimensional"
        )
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.maximum(norms, 1e-12)
    k = min(int(n_lists), len(x))
    c = x[:k].copy()
    for _ in range(int(kmeans_iters)):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 1e-12:
                    c[j] = m / nrm
    return [[float(v) for v in row] for row in c]


def _ivf_assign_udf(centroids: list[list[float]], top: int):
    """Top-`top` centroid indices as a VECTORIZED Arrow kernel: one numpy
    matmul per batch against the closure-captured centroid matrix
    (O(n_lists·dim) floats, shipped once per executor). Ties break to the
    smaller index (stable argsort on -dots), the same order as the
    independent golden generator (tools/gen_ivf_golden.py) — both pick
    identical lists whenever the margin exceeds ulp noise, which the
    generator asserts."""
    from pyspark.sql.functions import pandas_udf

    c_t = np.asarray(centroids, dtype=np.float64).T  # (dim, n_lists)
    k = min(int(top), c_t.shape[1])

    @pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = np.array(list(vec), dtype=np.float64)
        dots = x @ c_t
        if k == 1:
            idx = np.argmax(dots, axis=1)[:, None]
        else:
            idx = np.argsort(-dots, axis=1, kind="stable")[:, :k]
        return pd.Series(list(idx.astype(np.int32)))

    return assign


def cosine_topk_ivf(
    spark: SparkSession,
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_lists: int = 64,
    n_probe: int = 8,
    kmeans_iters: int = 5,
    sample: int = 4096,
    q_id: str = "id",
    q_vec: str = "vec",
    i_id: str = "id",
    i_vec: str = "vec",
    min_sim: float | None = None,
    exclude_self: bool = True,
    centroids: list[list[float]] | None = None,
    item_block_rows: int = 65536,
) -> DataFrame:
    """APPROXIMATE top-k cosine via IVF-Flat: a coarse k-means quantizer
    partitions items into n_lists inverted lists; each query probes its
    n_probe nearest lists and is re-ranked EXACTLY (JVM dot) against only
    those lists' members.

    The complementary scale path to cosine_topk_lsh: LSH cells are
    data-oblivious (hot near-duplicate clusters need max_bucket), while
    IVF lists follow the data's cluster structure, so clustered
    embeddings — the common case for model-training corpora — get
    balanced candidate sets by construction. Candidate cost ≈
    |Q|·n_probe/n_lists·|I| for balanced lists. Everything after the
    bounded driver-side training sample (train_ivf_centroids) is
    distributed: assignment is a vectorized Arrow kernel (one numpy
    matmul per batch against the closure-shipped centroid matrix — the
    equivalent JVM expression is O(n_lists·dim) literals per row and
    measured 2x+ slower at n_lists=64), and re-ranking cogroups each
    probed list with its probing queries into numpy matmul cells (see
    the inline comment for the exchange-width argument; item_block_rows
    bounds a hot list's per-cell item count via hash chunking).
    Deterministic end to end; pass `centroids` to reuse a trained index.
    """
    # q has exactly ONE consumer (the probe explode below), so its
    # lineage executes once with or without a snapshot — the former
    # eager localCheckpoint was a pure extra materialization pass
    # (measured 0.65s of the stage's cold wall at the 30k bench shape).
    # i is snapshotted only when it trains the centroids: then it feeds
    # both the bounded training sample and the assignment pass; with
    # pre-trained centroids the assignment pass is its only consumer.
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"))
    i = items.select(F.col(i_id).alias("item_id"), F.col(i_vec).alias("_iv"))
    if centroids is None:
        i = i.localCheckpoint(eager=True)
        centroids = train_ivf_centroids(
            i, dim, n_lists=n_lists, kmeans_iters=kmeans_iters, sample=sample,
            i_vec="_iv", i_id="item_id",
        )
    n_probe = min(int(n_probe), len(centroids))
    # Re-rank with the SAME cogrouped numpy cell kernel as
    # cosine_topk_blocked, keyed by (list, chunk): each probed list's
    # members meet their probing queries in one Arrow cell and a matmul
    # scores them. Compared to materializing (query_id, item_id)
    # candidate pairs and re-joining both vector tables, the widest
    # exchanges here carry |Q|·n_probe·n_chunks query rows + |I| item
    # rows (never |candidates| vector-wide rows), and scoring is SIMD
    # instead of per-pair scalar dots. Chunking bounds a hot list's cell
    # at ~list_size/n_chunks items; per-cell top-k keeps the merge window
    # input at |Q|·n_probe·n_chunks·k skinny rows. Disjoint lists mean no
    # duplicate pairs, so no dedup shuffle is needed.
    assign1 = _ivf_assign_udf(centroids, 1)
    assign_p = _ivf_assign_udf(centroids, n_probe)
    # Materialize the assignment ONCE: both the counts aggregate below
    # and the re-rank item side consume ix0, and without a checkpoint
    # each consumer re-executes the Arrow assignment kernel (plus its
    # python-worker stage spin-up). Fresh-process A/B at the 30k bench
    # shape (output bit-identical): quiet
    # host 5.9s vs 16.4s cold; contended host per-arm minima 10.2s vs
    # 11.5s over 5 reps — the duplicated-kernel cost is host-dependent
    # but the materialized form's minimum never loses, and at scale the
    # saved work is a full O(|I|·n_lists·dim) assignment pass. Storage
    # cost is one (id, vec, list_id) copy on executor-local disk, the
    # same order as the `i` input snapshot above.
    ix0 = i.withColumn(
        "list_id", F.element_at(assign1(F.col("_iv")), 1)
    ).localCheckpoint(eager=True)
    # PER-LIST chunking (r5 ADVICE, revised r6): n_chunks_i =
    # ceil(list_size_i / item_block_rows) from an in-plan n_lists-row
    # count aggregate, broadcast-joined to both sides (bounded by
    # n_lists, a user parameter — always broadcastable). A hot list's
    # per-cell item count is bounded at ~item_block_rows, and ONLY
    # queries probing that hot list fan out to its chunks. The r6
    # interim form derived ONE global n_chunks from the max list size:
    # (a) its driver-side max collect() added a per-call action (the
    # scaling tiny-floor legs measured the ivf floor swinging 9-43s,
    # partly this extra blocking round-trip), and (b) once any single
    # list crosses item_block_rows — the 100 TB regime this cap exists
    # for — it would replicate EVERY query to every chunk, a global
    # penalty for one hot list. Per-list derivation removes both:
    # everything is in-plan, and fan-out is local to the hot list.
    counts = ix0.groupBy("list_id").agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count(F.lit(1)) / F.lit(int(item_block_rows))),
        )
        .cast("int")
        .alias("_nck")
    )
    ix = (
        ix0.join(F.broadcast(counts), "list_id")
        .withColumn("_chunk", F.pmod(F.xxhash64("item_id"), F.col("_nck")).cast("int"))
        .drop("_nck")
    )
    qx = (
        q.withColumn("list_id", F.explode(assign_p(F.col("_qv"))))
        .join(F.broadcast(counts), "list_id")
        .withColumn("_chunk", F.explode(F.sequence(F.lit(0), F.col("_nck") - 1)))
        .drop("_nck")
    )
    cell = _make_topk_cell_arrow(int(k), min_sim, bool(exclude_self))
    scored = (
        qx.groupby("list_id", "_chunk")
        .cogroup(ix.groupby("list_id", "_chunk"))
        .applyInArrow(cell, "query_id long, item_id long, sim double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("item_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
