"""Graph quality metrics: modularity (python-louvain conventions).

Q = Σ_c [ in_c·resolution/m − (deg_c/(2m))² ] with m = total edge weight
(each undirected edge once, self-loops once), in_c = intra-community edge
weight, deg_c = Σ k_i (self-loops counting twice) — exactly the quantities
python-louvain's Status tracks (the library the reference calls at
/root/reference/tool/Neo4jLouvainProcessor.py:285). One aggregation pass
over edges ⋈ assignments on both endpoints; allclose 1e-6 vs oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def modularity(
    edges: DataFrame,
    assignments: DataFrame,
    resolution: float = 1.0,
    weight_col: str | None = "weight",
) -> float:
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select("src", "dst", w.cast("double").alias("w"))
    a_src = assignments.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    a_dst = assignments.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    tagged = e.join(a_src, "src").join(a_dst, "dst").persist()
    try:
        m = tagged.agg(F.sum("w")).collect()[0][0]
        if not m:
            return 0.0
        in_c = (
            tagged.where(F.col("c_src") == F.col("c_dst"))
            .groupBy(F.col("c_src").alias("community"))
            .agg(F.sum("w").alias("in_w"))
        )
        # deg_c: every endpoint contributes w; self-loop endpoints both land
        # in the same community → contributes 2w, matching networkx degree.
        deg = (
            tagged.select(F.col("c_src").alias("community"), "w")
            .union(tagged.select(F.col("c_dst").alias("community"), "w"))
            .groupBy("community")
            .agg(F.sum("w").alias("deg_w"))
        )
        per_c = deg.join(in_c, "community", "left").select(
            (
                F.coalesce(F.col("in_w"), F.lit(0.0)) * F.lit(resolution) / F.lit(float(m))
                - F.pow(F.col("deg_w") / F.lit(2.0 * float(m)), F.lit(2.0))
            ).alias("q")
        )
        return float(per_c.agg(F.sum("q")).collect()[0][0])
    finally:
        tagged.unpersist()  # on an error too
