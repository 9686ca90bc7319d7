"""Source/sink helpers (S1–S11 equivalents)."""

from louvain_spark.sources import io


def test_write_table_column_order(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    p = str(tmp_path / "o")
    io.write_table(df, p, column_order=["name", "id"])
    back = spark.read.parquet(p)
    assert back.columns == ["name", "id"]
