"""Tests for quantized vectors (round-trip error bounds, top-k
agreement)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize("variant,tol", [("f16", 2e-3), ("i8", 2e-2)])
def test_quantize_roundtrip(spark, sf_dir, variant, tol):
    import os

    from letsearch_spark.functions.quantize import dequantize_column, quantize_column

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).limit(50)
    packed = quantize_column(emb, "embedding", variant, out_col="qv")
    restored = dequantize_column(packed, "qv", variant, out_col="rv")
    rows = restored.select("embedding", "rv").collect()
    for r in rows:
        a = np.array(r["embedding"], dtype=np.float64)
        b = np.array(r["rv"], dtype=np.float64)
        denom = max(np.abs(a).max(), 1e-9)
        assert np.abs(a - b).max() / denom < tol


def test_quantized_topk_agrees_with_f32(spark, sf_dir):
    import os

    from letsearch_spark.functions.quantize import dequantize_column, quantize_column
    from letsearch_spark.operators.topk import cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector")
    )
    q = emb.where(F.col("_key") == 5).first()["vector"]
    exact = [r["_key"] for r in cosine_topk(emb, q, k=5).collect()]

    f16 = dequantize_column(
        quantize_column(emb, "vector", "f16"), "vector", "f16"
    )
    approx = [r["_key"] for r in cosine_topk(f16, q, k=5).collect()]
    # f16 error ~1e-3: the self-hit and most of the top-5 must survive
    assert approx[0] == 5
    assert len(set(exact) & set(approx)) >= 4


def test_f32_passthrough_and_unknown_variant(spark, sf_dir):
    import os

    from letsearch_spark.functions.quantize import quantize_column

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    assert quantize_column(emb, "embedding", "f32") is emb
    with pytest.raises(ValueError):
        quantize_column(emb, "embedding", "i4")
