"""Semantic edge-weight stage — reference stages 2–6 without external
services (SURVEY.md §3.2, §7.6).

Pipeline (all thresholds/weights from the reference):
  1. featurize each text field (name/why/how) → unit vectors
     (deterministic hashing featurizer replaces the BGE-M3 service, U1);
  2. candidate pairs: top-k cosine neighbors on the mean-combined vector,
     k=100, prefiltered at 0.8·threshold
     (/root/reference/tool/Neo4jLouvainProcessor.py:109-153);
  3. field-weighted similarity 0.4·name + 0.4·why + 0.2·how, keep ≥ 0.8 —
     threshold applied to the BLEND, not per-field (:84-89, :170);
  4. blend with relation edges: final_weight = 0.7·semantic + 0.3·relation,
     semantic defaulting to 0.0 for non-candidate pairs (:230, :258-261);
     relation_weight = mean of per-type weights over r1+r2 type lists
     {participant 0.7, place 0.1, time 0.1, else 0.0} (:239-255) — the mean
     runs over the DISTINCT collected type lists, duplicates don't raise it
     (SURVEY.md §7 'non-standard semantics to honor').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from louvain_spark.functions.featurize import featurize
from louvain_spark.operators.similarity import cosine_topk_blocked, dot_col

FIELD_WEIGHTS = {"name_text": 0.4, "why_text": 0.4, "how_text": 0.2}
DEFAULT_THRESHOLD = 0.8
SEMANTIC_BLEND = 0.7
RELATION_BLEND = 0.3
# reference type weights (tool/Neo4jLouvainProcessor.py:239-245), with the
# engine's entity-type vocabulary aliased alongside the reference's
TYPE_WEIGHTS = {
    "参与者": 0.7, "地点": 0.1, "时间": 0.1,
    "tool": 0.7, "conv": 0.1, "role": 0.1,
}


def featurize_fields(
    docs: DataFrame,
    fields: dict[str, float] | None = None,
    dim: int = 64,
) -> DataFrame:
    """docs(id, <text fields>) → + per-field unit vectors + combined vector.

    Combined = L2-normalized mean of the field vectors
    (/root/reference/tool/Neo4jLouvainProcessor.py:103-105); NULL text →
    '' first (P1 coalesce, :52-57).
    """
    fields = fields or FIELD_WEIGHTS
    out = docs
    for f in fields:
        out = out.withColumn(f"_v_{f}", featurize(F.coalesce(F.col(f), F.lit("")), dim=dim))
    n = len(fields)
    mean_vec = None
    for f in fields:
        term = F.col(f"_v_{f}")
        mean_vec = term if mean_vec is None else F.zip_with(mean_vec, term, lambda a, b: a + b)
    mean_vec = F.transform(mean_vec, lambda x: x / F.lit(float(n)))
    norm = F.sqrt(F.aggregate(mean_vec, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.when(
        norm > 0, F.transform(mean_vec, lambda x: (x / norm).cast("float"))
    ).otherwise(F.col(f"_v_{list(fields)[0]}"))
    return out.withColumn("_v_combined", unit)


def semantic_pairs(
    spark: SparkSession,
    docs: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = 100,
    dim: int = 64,
) -> DataFrame:
    """Canonical (src, dst, semantic_weight) pairs above the blend
    threshold, blending the FIELD_WEIGHTS fields."""
    emb = featurize_fields(docs, FIELD_WEIGHTS, dim).persist()
    vec_cols = ["id", "_v_combined"] + [f"_v_{f}" for f in FIELD_WEIGHTS]
    emb_slim = emb.select(*vec_cols)

    # candidate generation: combined-vector kNN with dynamic prefilter
    cand = cosine_topk_blocked(
        spark,
        emb_slim.select("id", F.col("_v_combined").alias("vec")),
        emb_slim.select("id", F.col("_v_combined").alias("vec")),
        k=k,
        q_vec="vec",
        i_vec="vec",
        min_sim=0.8 * threshold,
        exclude_self=True,
    )
    pairs = cand.select(
        F.least("query_id", "item_id").alias("src"),
        F.greatest("query_id", "item_id").alias("dst"),
    ).distinct()

    # refine: field-weighted blend on the candidate pairs only
    a = emb_slim.select(
        F.col("id").alias("src"),
        *[F.col(f"_v_{f}").alias(f"_av_{f}") for f in FIELD_WEIGHTS],
    )
    b = emb_slim.select(
        F.col("id").alias("dst"),
        *[F.col(f"_v_{f}").alias(f"_bv_{f}") for f in FIELD_WEIGHTS],
    )
    joined = pairs.join(a, "src").join(b, "dst")
    blend = None
    for f, w in FIELD_WEIGHTS.items():
        term = F.lit(w) * dot_col(F.col(f"_av_{f}"), F.col(f"_bv_{f}"))
        blend = term if blend is None else blend + term
    out = (
        joined.select("src", "dst", blend.alias("semantic_weight"))
        .where(F.col("semantic_weight") >= threshold)
        .orderBy(F.col("semantic_weight").desc())
    )
    emb.unpersist()
    return out


def relation_weight_col(etypes, weights: dict[str, float] | None = None):
    """Mean of per-type weights over a type list (F10) — a JVM-side
    higher-order aggregate, no Python (input_hint: no per-row py)."""
    weights = weights or TYPE_WEIGHTS
    keys = list(weights)
    lookup = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.lit(float(weights[k])) for k in keys]),
    )
    total = F.aggregate(
        etypes, F.lit(0.0), lambda acc, t: acc + F.coalesce(lookup[t], F.lit(0.0))
    )
    return F.when(F.size(etypes) > 0, total / F.size(etypes)).otherwise(F.lit(0.0))


def blend_weights(
    relation_edges: DataFrame,
    sem_pairs: DataFrame,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """edges(src,dst,weight,etypes) ⟕ semantic pairs → final_weight
    = 0.7·semantic + 0.3·relation (J3 left join, default semantic 0.0)."""
    out = relation_edges.join(sem_pairs, ["src", "dst"], "left").select(
        "src",
        "dst",
        "weight",
        "etypes",
        F.coalesce("semantic_weight", F.lit(0.0)).alias("semantic_weight"),
        relation_weight_col(F.col("etypes"), weights=weights).alias("relation_weight"),
    )
    return out.withColumn(
        "final_weight",
        F.lit(SEMANTIC_BLEND) * F.col("semantic_weight")
        + F.lit(RELATION_BLEND) * F.col("relation_weight"),
    )
