"""pandas_udf surface: the Arrow-vectorized cosine must equal the JVM
builtin to float tolerance (the builtin is what oracle-checked queries use;
the UDF is the sanctioned custom-Python pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_flink_spark.functions.vectors import (
    cosine_builtin,
    cosine_pandas,
    norm_pandas,
)
from twitter_flink_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_pandas_cosine_equals_builtin(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    a = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = emb.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 60)).select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("eb")
    )
    pairs = a.crossJoin(F.broadcast(b))
    both = pairs.select(
        "ida",
        "idb",
        cosine_pandas(F.col("ea"), F.col("eb")).alias("c_udf"),
        cosine_builtin("ea", "eb").alias("c_jvm"),
    )
    diffs = both.select(F.max(F.abs(F.col("c_udf") - F.col("c_jvm"))).alias("d"))
    assert diffs.collect()[0]["d"] < 1e-9


def test_decode_one_both_paths():
    """_decode_one: deterministic fake on non-image bytes (with or without
    PIL importable — an installed Pillow must NOT break the fallback), real
    metadata when PIL can actually decode the payload."""
    from twitter_flink_spark.operators.multimodal import _decode_one

    payload = b"definitely not an image"
    n = len(payload)
    assert _decode_one(payload) == (n % 640 + 1, (n * 7) % 480 + 1, "fake/deterministic")

    try:
        import io

        import PIL.Image
    except ImportError:
        return  # container ships without Pillow; fake path covered above
    buf = io.BytesIO()
    PIL.Image.new("RGB", (3, 2)).save(buf, format="PNG")
    assert _decode_one(buf.getvalue()) == (3, 2, "png")


def test_pandas_norm_positive(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.select(norm_pandas(F.col("embedding")).alias("n"))
    row = n.agg(F.min("n").alias("mn"), F.max("n").alias("mx")).collect()[0]
    assert row["mn"] > 0
