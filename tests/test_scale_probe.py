"""Smoke test for tools/scale_probe.py's replication: a 2-copy replica
doubles every fact table with no key shared between copies, copies
the dimension tables unchanged, and fans embeddings with an
orthogonal transform."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import scale_probe  # noqa: E402

FACT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def test_replicate_two_copies(spark, sf_small, tmp_path):
    dst = str(tmp_path / "sfx2")
    scale_probe.replicate(spark, sf_small, dst, 2)

    def read(root, t):
        return spark.read.parquet(f"{root}/{t}.parquet")

    for t, keys in FACT_KEYS.items():
        src, out = read(sf_small, t), read(dst, t)
        assert out.count() == 2 * src.count(), t
        # no key collides across copies (the base itself need not be
        # unique: lineitem repeats some (orderkey, linenumber) pairs)
        n_keys = src.select(*keys).distinct().count()
        assert out.select(*keys).distinct().count() == 2 * n_keys, t

    for t in scale_probe.DIMS:
        src, out = read(sf_small, t), read(dst, t)
        assert out.count() == src.count(), t
        assert out.exceptAll(src).count() == 0, t
        assert src.exceptAll(out).count() == 0, t

    def norms(df):
        return df.select("vec_id", "embedding", F.sqrt(F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x * x)).alias("n"))

    base = norms(read(sf_small, "embeddings"))
    copy1 = norms(read(dst, "embeddings").where(
        F.col("vec_id") >= scale_probe.OFF)).select(
        (F.col("vec_id") - scale_probe.OFF).alias("vec_id"),
        F.col("embedding").alias("e1"), F.col("n").alias("n1"))
    joined = base.join(copy1, "vec_id")
    assert joined.count() == base.count()
    assert read(dst, "embeddings").schema == read(sf_small, "embeddings").schema
    assert joined.where(F.abs(F.col("n") - F.col("n1")) > 1e-9).count() == 0
    # the transform is applied, not a plain copy
    assert joined.where(F.col("embedding") != F.col("e1")).count() > 0
