"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

These assert the *plans* the engine produces, not just results — a scan
that reads all columns for a 2-column projection, or a dict join that
shuffles instead of broadcasting, is a perf bug at 100TB even when the
answer is right.
"""

import re
import uuid

from pyspark.sql import functions as F

from louvain_spark.operators.induce import cooccurrence_edges, entity_vertices, membership
from louvain_spark.sources.tables import load
from louvain_spark.synth import transcripts_df
from tests.conftest import use_gate_side

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark):
    df = load(spark, SF, "orders").where(F.col("o_totalprice") > 1000.0).select(
        "o_orderkey", "o_totalprice"
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*GreaterThan\(o_totalprice", plan), plan


def test_column_pruning_reaches_parquet(spark):
    df = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_dictionary_join_broadcasts(spark):
    """The membership→id dictionary join must be a broadcast, not a
    shuffle, while the dictionary is small: the entity dictionary is tiny
    relative to the turn table."""
    from louvain_spark.operators.induce import _with_ids

    t = transcripts_df(spark, preset="tiny")
    mem = membership(t)
    verts = entity_vertices(mem)
    plan = _plan(_with_ids(mem, verts))
    assert "BroadcastHashJoin" in plan, plan


def test_dictionary_join_shuffles_above_gate(spark, monkeypatch):
    """Above the gate the dictionary is O(|conversations|) — at the
    10^12-turn design point ~10^10 rows, never broadcastable; the gate
    must fall back to a shuffled join on entity name (r5 VERDICT #2)."""
    from louvain_spark.operators.induce import _with_ids
    from louvain_spark.plans import gate

    t = transcripts_df(spark, preset="tiny")
    mem = membership(t)
    verts = entity_vertices(mem)
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    plan = _plan(_with_ids(mem, verts))
    assert "BroadcastHashJoin" not in plan, plan
    assert re.search(r"ShuffledHashJoin|SortMergeJoin", plan), plan


def test_etypes_fallback_shuffles_above_gate(spark, monkeypatch):
    """A scrambled dictionary takes the etypes fallback's two dictionary
    joins. Above the gate they shuffle: same edges as the broadcast side,
    and no BroadcastExchange in the plan. The joins are the banded plan's,
    above the one-task gate."""
    from louvain_spark.plans import gate

    use_gate_side(monkeypatch, "distributed")
    t = transcripts_df(spark, preset="tiny")
    verts = entity_vertices(membership(t))
    scrambled = verts.select((F.col("id") * 7 + 3).alias("id"), "name", "vtype")
    _, small = cooccurrence_edges(t, vertices=scrambled, window=4)
    assert "BroadcastExchange" in _plan(small)
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    _, big = cooccurrence_edges(t, vertices=scrambled, window=4)
    plan = _plan(big)
    assert "BroadcastExchange" not in plan, plan
    rows = lambda df: sorted(  # noqa: E731
        (r["src"], r["dst"], r["weight"], tuple(r["etypes"])) for r in df.collect()
    )
    assert rows(big) == rows(small)


def test_events_dictionary_join_shuffles_above_gate(spark, monkeypatch):
    """events_cooc's membership→id join goes through the same gate: above
    it, same graph as the broadcast side and no BroadcastExchange."""
    from louvain_spark.plans import gate
    from louvain_spark.sources.tables import events_cooc

    events = load(spark, SF, "events")
    _, small = events_cooc(events)
    assert "BroadcastExchange" in _plan(small)
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    _, big = events_cooc(events)
    assert "BroadcastExchange" not in _plan(big), _plan(big)
    assert sorted(big.collect()) == sorted(small.collect())


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran), counted under a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dictionary_joins_run_no_count_of_their_own(spark):
    """events_cooc and _renumber size their dictionary joins by the row
    count dense_sorted_rank observes, so each runs exactly its rank's
    jobs; the graph still equals its DuckDB twin (EVENTS_COOC_SQL)."""
    import duckdb

    from louvain_spark.operators import louvain as lv
    from louvain_spark.plans.rank import dense_sorted_rank
    from louvain_spark.sources.tables import EVENTS_COOC_SQL, events_cooc, events_membership

    events = load(spark, SF, "events")
    ents = events_membership(events).select("entity").distinct()
    _, rank_jobs = _jobs(spark, lambda: dense_sorted_rank(ents, "entity"))
    (_, edges), cooc_jobs = _jobs(spark, lambda: events_cooc(events))
    assert cooc_jobs == rank_jobs > 0
    con = duckdb.connect()
    con.execute(f"create view events as select * from read_parquet('{SF}/events.parquet')")
    want = con.execute(EVENTS_COOC_SQL + "SELECT src, dst, weight FROM e").fetchall()
    assert sorted(tuple(r) for r in edges.collect()) == sorted(want)

    assign = spark.createDataFrame(
        [(i, 100 + (i % 3) * 7) for i in range(30)], "id long, community long"
    ).localCheckpoint(eager=True)
    reps = assign.groupBy("community").agg(F.min("id").alias("_rep"))
    _, rank_jobs = _jobs(spark, lambda: dense_sorted_rank(reps, "_rep", id_col="_new"))
    (renumbered, _), jobs = _jobs(spark, lambda: lv._renumber(assign))
    assert jobs == rank_jobs > 0
    assert sorted(renumbered.collect()) == [(i, i % 3) for i in range(30)]


def test_renumber_remap_join_gated(spark, monkeypatch):
    """_renumber's community remap is |communities|-sized — worst-case
    O(|V|) at level 0 — so its broadcast must be count-gated too
    (r5 VERDICT #2). Below the gate: broadcast; above: shuffled join,
    identical assignments."""
    from louvain_spark.operators import louvain as lv
    from louvain_spark.plans import gate

    assign = spark.createDataFrame(
        [(i, 100 + (i % 3) * 7) for i in range(30)], "id long, community long"
    )
    small, _ = lv._renumber(assign)
    assert "BroadcastHashJoin" in _plan(small)
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    big, _ = lv._renumber(assign)
    plan = _plan(big)
    assert "BroadcastHashJoin" not in plan, plan
    assert re.search(r"ShuffledHashJoin|SortMergeJoin", plan), plan
    assert sorted(small.collect()) == sorted(big.collect())


def test_cooccurrence_plan_has_partial_aggregation(spark, monkeypatch):
    """The final pair-count groupBy must show a partial (map-side) agg
    before the exchange — the skew-resistance property the induction
    relies on (SURVEY.md §4.3) above the one-task gate."""
    use_gate_side(monkeypatch, "distributed")
    t = transcripts_df(spark, preset="tiny")
    _, edges = cooccurrence_edges(t, window=4)
    plan = _plan(edges)
    assert "HashAggregate" in plan
    # partial_count/partial aggregation markers appear in formatted plans
    assert re.search(r"partial_count|Partial", plan), plan


def test_whole_stage_codegen_on_relational(spark):
    df = (
        load(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    # AQE finalizes the physical plan only at execution: run the query,
    # then assert the executed adaptive plan ran inside codegen stages
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' is the WholeStageCodegen stage marker in executed-plan strings
    assert re.search(r"\*\(\d+\)", plan), plan[:600]
    assert "isFinalPlan=true" in plan


def test_dense_sorted_rank_matches_global_sort_and_stays_partitioned(spark, monkeypatch):
    """The two-phase rank (plans/rank.py) must equal the single-partition
    Window.orderBy rank exactly, with NO single-partition exchange in its
    plans — the vertex dictionary path must never funnel through one task.
    Both plans are read as the rank snapshots them: the range partitions,
    then the ranked rows."""
    from louvain_spark.plans.rank import dense_sorted_rank

    names = _rank_names(spark)
    plans = []
    snapshot = type(names).localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(_plan(df))
        return snapshot(df, *args, **kwargs)

    monkeypatch.setattr(type(names), "localCheckpoint", spy)
    got, n = dense_sorted_rank(names, "entity")
    assert len(plans) == 2 and n == 997
    for plan in plans:
        assert "SinglePartition" not in plan, plan
    assert _rows(got) == _rows(_window_rank(names))


def test_dense_sorted_rank_offsets_across_range_partitions(spark):
    """With AQE's coalescing off, the range exchange keeps the session's
    shuffle partitions, so the per-partition offsets are exercised; the
    rank must still equal the single-window rank."""
    from louvain_spark.plans.rank import dense_sorted_rank

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        names = _rank_names(spark)
        got, n = dense_sorted_rank(names, "entity")
        assert got.rdd.getNumPartitions() > 1 and n == 997
        assert _rows(got) == _rows(_window_rank(names))
    finally:
        spark.conf.set(key, old)


def _rank_names(spark):
    """997 distinct names, generated out of sort order."""
    return spark.range(0, 997).select(
        F.concat(F.lit("e"), F.format_string("%05d", (F.col("id") * 7919) % 997)).alias(
            "entity"
        )
    ).distinct()


def _window_rank(names):
    from pyspark.sql import Window

    return names.select(
        (F.row_number().over(Window.orderBy("entity")) - 1).cast("long").alias("id"),
        "entity",
    )


def _rows(df) -> set:
    return {(r["id"], r["entity"]) for r in df.collect()}


def test_lsh_ann_dedup_exchange_carries_only_ids(spark):
    """VERDICT r2 #4, generalized for the r5 bucket-local scoring: NO
    pair-wide exchange may carry the vectors — at 1024-dim embeddings
    that would move ~8KB per candidate row (the exact shuffle explosion
    the r5 10x advisory caught, BENCH/ann_10x_advisory.md). The pair-wide
    exchange is the sim dedup groupBy (ids + one 8-byte partial max)."""
    from louvain_spark.operators.similarity import cosine_topk_lsh

    emb = load(spark, SF, "embeddings")
    norm = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x))
    unit = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x / norm).alias("vec"),
    )
    top = cosine_topk_lsh(
        spark, unit.where(F.col("id") < 20), unit, k=5, dim=64,
        n_planes=6, n_tables=3,
    )
    plan = _plan(top)
    dedup_exchanges = [
        b
        for b in re.split(r"\n(?=\(\d+\) )", plan)
        if b.split("\n")[0].endswith("Exchange")
        and re.search(r"hashpartitioning\(query_id#\d+L, item_id#\d+L", b)
    ]
    assert dedup_exchanges, plan
    for b in dedup_exchanges:
        m = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", b)
        assert m and int(m.group(1)) <= 3, b
        assert "_qv" not in b and "_iv" not in b, b


def test_events_vertices_plan_has_no_single_partition_window(spark):
    """events_cooc's dictionary build (the path every graph entry query
    takes) must not contain an unpartitioned window (VERDICT r1 #3)."""
    from louvain_spark.sources.tables import events_cooc

    events = load(spark, SF, "events")
    verts, edges = events_cooc(events)
    # the dictionary is checkpointed inside dense_sorted_rank; assert the
    # downstream plans carry no single-partition exchange either
    assert "SinglePartition" not in _plan(verts)
    assert "SinglePartition" not in _plan(edges)
