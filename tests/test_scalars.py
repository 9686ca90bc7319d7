"""Scalar column functions (F7, F14) vs hand-computed goldens; the
cosine of two unit vectors is similarity.dot_col."""

from pyspark.sql import functions as F

from louvain_spark.functions import scalars as S
from louvain_spark.operators.similarity import dot_col


def test_l2_normalize_and_cosine(spark):
    df = spark.createDataFrame([([3.0, 4.0],), ([0.0, 0.0],)], "v array<float>")
    rows = df.select(S.l2_normalize("v").alias("u")).collect()
    assert [round(x, 6) for x in rows[0][0]] == [0.6, 0.8]
    assert list(rows[1][0]) == [0.0, 0.0]
    two = spark.createDataFrame([([1.0, 0.0], [0.6, 0.8])], "a array<float>, b array<float>")
    sim = two.select(dot_col(F.col("a"), F.col("b")).alias("s")).collect()[0][0]
    assert abs(sim - 0.6) < 1e-6


def test_json_encode_decode_roundtrip(spark):
    """F14: column-level JSON codec — struct (incl. timestamp) → string →
    struct; malformed input decodes to NULL."""
    import datetime

    from louvain_spark.functions.scalars import json_decode, json_encode

    df = spark.createDataFrame(
        [(1, "a b", datetime.datetime(2024, 5, 17, 12, 30))],
        "k long, s string, ts timestamp",
    )
    enc = df.select(
        json_encode(F.struct("k", "s", "ts")).alias("js")
    )
    js = enc.collect()[0]["js"]
    assert js.startswith('{"k":1,"s":"a b","ts":"2024-05-17T12:30:00') , js
    dec = enc.select(json_decode("js", "k LONG, s STRING, ts TIMESTAMP").alias("d"))
    row = dec.collect()[0]["d"]
    assert row["k"] == 1 and row["s"] == "a b"
    assert row["ts"] == datetime.datetime(2024, 5, 17, 12, 30)
    bad = spark.createDataFrame([("{not json",)], "js string").select(
        json_decode("js", "k LONG").alias("d")
    )
    assert bad.collect()[0]["d"]["k"] is None
