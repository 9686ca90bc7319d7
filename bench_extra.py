"""Per-stage isolation benchmarks for the optimization rounds (guide §1).

bench.py is FROZEN for measurement; this file hosts the extra
noop-sink isolation runs, sub-phase timers and plan captures that the
optimization work cites in OPTIMIZATION_r*.md. Methodology mirrors
bench.py: same session config, same inputs, fresh JVM per invocation,
stages labeled via setJobDescription.

Usage:
  python bench_extra.py <stage> [<stage> ...]
  stages: synth, induce, louvain, lsh, minhash, neardup, quality,
          vocab, encode, pagerank, cc, ann, ivf, boilerplate
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SHUFFLE_PARTITIONS = 64

_timings: dict[str, float] = {}


def timed(name):
    class _T:
        def __enter__(self):
            print(f"[extra] {name} start", file=sys.stderr, flush=True)
            self.t0 = time.monotonic()

        def __exit__(self, *a):
            _timings[name] = round(time.monotonic() - self.t0, 3)
            print(f"[extra] {name} done {_timings[name]}s", file=sys.stderr, flush=True)

    return _T()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def get_session():
    from louvain_spark import get_spark

    return get_spark(
        "louvain_spark-bench-extra",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
            "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        },
    )


def stage_docs(spark):
    from louvain_spark.sources.tables import load

    return load(spark, SF_DIR, "documents")


def prep_transcripts(spark, work):
    from louvain_spark.synth import transcripts_df

    transcripts_df(spark, preset="bench").repartition(SHUFFLE_PARTITIONS).write.mode(
        "overwrite"
    ).parquet(f"{work}/transcripts")
    return spark.read.parquet(f"{work}/transcripts")


def prep_edges(spark, work):
    from louvain_spark.operators.induce import cooccurrence_edges

    t = prep_transcripts(spark, work)
    verts, edges = cooccurrence_edges(t, window=8)
    edges.write.mode("overwrite").parquet(f"{work}/edges")
    verts.write.mode("overwrite").parquet(f"{work}/vertices")
    return (
        spark.read.parquet(f"{work}/vertices"),
        spark.read.parquet(f"{work}/edges"),
    )


def prep_vecs(spark, work, n_vec=30000, dim_v=64):
    n_clusters = max(10, n_vec // 600)
    raw = spark.range(n_vec).select(
        "id",
        F.when(
            F.col("id") < int(n_vec * 0.8), F.pmod("id", F.lit(n_clusters))
        ).otherwise(-F.col("id")).alias("c"),
    )
    rawvec = F.transform(
        F.sequence(F.lit(0), F.lit(dim_v - 1)),
        lambda d: F.cos(F.col("c") * (d + 1) * 0.7)
        + 0.03 * F.cos(F.col("id") * (d + 13) * 1.3),
    )
    vnorm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    raw.select("id", rawvec.alias("v")).select(
        "id", F.transform("v", lambda x: x / vnorm).alias("vec")
    ).repartition(SHUFFLE_PARTITIONS).write.mode("overwrite").parquet(f"{work}/vecs")
    return spark.read.parquet(f"{work}/vecs")


def run_synth(spark, work):
    """synth_write decomposition: pandas gen / createDataFrame / write."""
    from louvain_spark.synth import PRESETS, transcripts_pandas

    t0 = time.monotonic()
    pdf = transcripts_pandas(**PRESETS["bench"])
    _timings["synth.pandas_gen"] = round(time.monotonic() - t0, 3)
    from louvain_spark.schema import TRANSCRIPTS

    t0 = time.monotonic()
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    _timings["synth.createDataFrame_lazy"] = round(time.monotonic() - t0, 3)
    with timed("synth.repartition_write"):
        df.repartition(SHUFFLE_PARTITIONS).write.mode("overwrite").parquet(
            f"{work}/transcripts"
        )
    with timed("synth.full_stage_again"):
        from louvain_spark.synth import transcripts_df

        transcripts_df(spark, preset="bench").repartition(
            SHUFFLE_PARTITIONS
        ).write.mode("overwrite").parquet(f"{work}/transcripts2")


def run_quality(spark, work):
    docs = stage_docs(spark)
    from louvain_spark.operators.curation import pii_scrub
    from louvain_spark.operators.textstats import repetition_scores

    with timed("quality.repetition_warm0"):
        noop(repetition_scores(docs))
    with timed("quality.repetition"):
        noop(repetition_scores(docs))
    with timed("quality.pii_scrub"):
        noop(pii_scrub(docs))
    with timed("quality.bench_shape"):
        repetition_scores(docs).agg(
            F.sum("n_words"),
            F.sum("dup_5gram_frac"),
            F.sum("top_bigram_char_frac"),
            F.sum("dup_line_char_frac"),
        ).collect()
        pii_scrub(docs).agg(F.sum("n_email"), F.sum(F.length("clean_text"))).collect()


def run_lsh(spark, work):
    from louvain_spark.operators.similarity import cosine_topk_lsh

    cvecs = prep_vecs(spark, work)
    dim_v = 64
    with timed("lsh.full_cold"):
        cosine_topk_lsh(
            spark, cvecs, cvecs, k=10, dim=dim_v, n_planes=10, n_tables=4,
            max_bucket=128,
        ).count()
    with timed("lsh.full_warm"):
        cosine_topk_lsh(
            spark, cvecs, cvecs, k=10, dim=dim_v, n_planes=10, n_tables=4,
            max_bucket=128,
        ).count()


def run_minhash(spark, work):
    from louvain_spark.operators.dedup import (
        _minhash_buckets,
        minhash_lsh_pairs,
        minhash_signatures,
        shingles,
    )

    docs = stage_docs(spark)
    with timed("minhash.shingles"):
        noop(shingles(docs, "doc_id", "text", 3))
    with timed("minhash.signatures"):
        noop(minhash_signatures(docs, 16, "doc_id", "text", 3))
    with timed("minhash.buckets"):
        noop(_minhash_buckets(docs, 16, 4, "doc_id", "text", 3))
    with timed("minhash.pairs_count_cold"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3).count()
    with timed("minhash.pairs_count_warm"):
        n = minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3).count()
    _timings["minhash.n_pairs"] = n


def run_neardup(spark, work):
    from louvain_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters

    docs = stage_docs(spark)
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3)
    with timed("neardup.pairs_materialize"):
        pairs.write.mode("overwrite").parquet(f"{work}/pairs")
    mat = spark.read.parquet(f"{work}/pairs")
    with timed("neardup.cc_only"):
        near_dup_clusters(spark, mat).count()
    with timed("neardup.bench_shape"):
        near_dup_clusters(
            spark, minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3)
        ).count()


def run_induce(spark, work):
    from louvain_spark.operators.induce import (
        cooccurrence_edges,
        entity_vertices,
        membership,
        _with_ids,
    )

    t = prep_transcripts(spark, work)
    t.count()
    with timed("induce.membership"):
        noop(membership(t))
    mem = membership(t)
    with timed("induce.entity_vertices"):
        verts = entity_vertices(mem)
        noop(verts)
    with timed("induce.with_ids"):
        noop(_with_ids(mem, verts).select("conv_id", "turn_idx", "id"))
    with timed("induce.bench_shape"):
        vv, ee = cooccurrence_edges(t, window=8)
        ee.write.mode("overwrite").parquet(f"{work}/edges")
        vv.write.mode("overwrite").parquet(f"{work}/vertices")
        spark.read.parquet(f"{work}/edges").count()


def run_louvain(spark, work):
    from louvain_spark.operators.louvain import louvain
    from louvain_spark.plans.loop import SuperstepRunner  # noqa: F401

    verts, edges = prep_edges(spark, work)
    ids = verts.select("id").persist()
    with timed("louvain.auto"):
        assign, mod = louvain(spark, edges, vertices=ids, mode="auto")
        assign.count()
    _timings["louvain.modularity"] = round(mod, 6)


def run_pagerank(spark, work):
    from louvain_spark.operators.pagerank import pagerank
    from louvain_spark.plans.loop import SuperstepRunner

    verts, edges = prep_edges(spark, work)
    ids = verts.select("id").persist()
    with timed("pagerank.10it"):
        pr = pagerank(
            spark, edges, vertices=ids, max_iter=10, tol=0.0, steps_per_action=2,
            runner=SuperstepRunner(
                spark, "extra-pr", "pagerank",
                checkpoint_dir=f"{work}/ckpt-pr", checkpoint_every=4,
            ),
        )
        pr.count()


def run_cc(spark, work):
    from louvain_spark.operators.cc import connected_components
    from louvain_spark.plans.loop import SuperstepRunner

    verts, edges = prep_edges(spark, work)
    ids = verts.select("id").persist()
    with timed("cc.bench_shape"):
        runner = SuperstepRunner(
            spark, "extra-cc", "cc", checkpoint_dir=f"{work}/ckpt-cc",
            checkpoint_every=4,
        )
        connected_components(spark, edges, vertices=ids, runner=runner).count()


def run_vocab(spark, work):
    from louvain_spark.operators.webstats import build_vocab, tfidf_top_terms

    docs = stage_docs(spark)
    with timed("vocab.build"):
        build_vocab(docs, top_k=5000, min_df=2).count()
    with timed("vocab.tfidf"):
        tfidf_top_terms(docs, k=3).agg(F.sum("score")).collect()


def run_encode(spark, work):
    from louvain_spark.operators.encoding import bigram_lm_scores, encode_documents
    from louvain_spark.operators.webstats import build_vocab

    docs = stage_docs(spark)
    vocab = build_vocab(docs, top_k=5000, min_df=2)
    vocab.count()
    with timed("encode.encode"):
        encode_documents(docs, vocab).agg(
            F.sum("n_tokens"), F.sum(F.size("token_ids"))
        ).collect()
    with timed("encode.bigram_lm"):
        bigram_lm_scores(docs).agg(F.sum("sum_nll_u"), F.sum("score")).collect()


def run_ann(spark, work):
    from louvain_spark.operators.similarity import cosine_topk_blocked
    from louvain_spark.sources.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    norm = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x))
    unit = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: (x / norm).cast("float")).alias("vec"),
    )
    with timed("ann.cold"):
        cosine_topk_blocked(spark, unit, unit, k=10).count()
    with timed("ann.warm"):
        cosine_topk_blocked(spark, unit, unit, k=10).count()


def run_ivf(spark, work):
    from louvain_spark.operators.similarity import cosine_topk_ivf

    cvecs = prep_vecs(spark, work)
    with timed("ivf.cold"):
        cosine_topk_ivf(
            spark, cvecs, cvecs, k=10, dim=64, n_lists=64, n_probe=8
        ).count()
    with timed("ivf.warm"):
        cosine_topk_ivf(
            spark, cvecs, cvecs, k=10, dim=64, n_lists=64, n_probe=8
        ).count()


def run_boilerplate(spark, work):
    from louvain_spark.operators.curation import strip_boilerplate_lines

    docs = stage_docs(spark)
    multi = docs.select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+\s+){7}\S+)\s+", "$1\n").alias("text"),
    )
    with timed("boilerplate.bench_shape"):
        strip_boilerplate_lines(multi, max_line_df=2).agg(
            F.sum("n_lines"), F.sum("n_kept"), F.sum(F.length("clean_text"))
        ).collect()


STAGES = {
    "synth": run_synth,
    "induce": run_induce,
    "louvain": run_louvain,
    "lsh": run_lsh,
    "minhash": run_minhash,
    "neardup": run_neardup,
    "quality": run_quality,
    "vocab": run_vocab,
    "encode": run_encode,
    "pagerank": run_pagerank,
    "cc": run_cc,
    "ann": run_ann,
    "ivf": run_ivf,
    "boilerplate": run_boilerplate,
}


def main():
    import shutil
    import tempfile

    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        print("usage: python bench_extra.py <stage> [...]; stages:", list(STAGES))
        sys.exit(2)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tempfile.tempdir = base
    work = tempfile.mkdtemp(prefix="louvain-extra-", dir=base)
    spark = get_session()
    try:
        for n in names:
            spark.sparkContext.setJobDescription(f"extra:{n}")
            STAGES[n](spark, work)
            spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(_timings))


if __name__ == "__main__":
    main()
