"""Broadcast bloom: the numpy probe must agree with the JVM sketch's own
mightContain on every key (members AND non-members), and the murmur hash
must match the JVM implementation bit-for-bit."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spacetime_crawler4_spark.functions.bloom import (
    build_bloom,
    might_contain_udf,
    murmur3_hash_long,
)


def test_probe_edge_keys_match_jvm_bloom(spark):
    """Edge-case longs (sign boundaries) through the full probe path vs the
    JVM sketch (the per-hash murmur math is covered transitively — any
    mismatch flips membership bits)."""
    edge = [0, 1, -1, 42, 2**31, -(2**31), 2**63 - 1, -(2**63), 123456789123456789]
    df = spark.createDataFrame([(v,) for v in edge], "h long")
    blob = build_bloom(df, "h", expected=16, fpp=0.01)
    jbloom = df._jdf.stat().bloomFilter("h", 16, 0.01)
    probe = edge + [7, -7, 2**62, -(2**62) + 3]
    arr = np.array(probe, dtype=np.int64)
    assert blob.might_contain(arr).tolist() == [
        jbloom.mightContainLong(int(v)) for v in probe
    ]


def test_probe_matches_jvm_bloom(spark):
    df = spark.range(0, 5000).select(F.xxhash64("id").alias("h"))
    blob = build_bloom(df, "h", expected=5000, fpp=0.01)
    jbloom = df._jdf.stat().bloomFilter("h", 5000, 0.01)
    probe_vals = (
        df.limit(500).toPandas()["h"].to_numpy(dtype=np.int64).tolist()
        + list(range(10**9, 10**9 + 500))
    )
    arr = np.array(probe_vals, dtype=np.int64)
    ours = blob.might_contain(arr).tolist()
    theirs = [jbloom.mightContainLong(int(v)) for v in probe_vals]
    assert ours == theirs
    # and no false negatives on the 500 true members
    assert all(ours[:500])


def test_might_contain_udf_filters(spark):
    members = spark.range(0, 2000).select(F.xxhash64("id").alias("h"))
    blob = build_bloom(members, "h", expected=2000, fpp=0.001)
    probe = spark.range(0, 4000).select("id", F.xxhash64("id").alias("h"))
    kept = probe.filter(might_contain_udf(blob)(F.col("h")))
    ids = {r["id"] for r in kept.collect()}
    assert set(range(2000)) <= ids          # zero false negatives
    assert len(ids) < 2300                  # fpp keeps false positives low


def test_with_keys_matches_jvm_build(spark):
    """Driver-side puts (the engine's per-wave seen-set delta) set exactly
    the bits the JVM sketch sets: base + put keys == one JVM build over
    both key sets, bit for bit."""
    base = spark.range(0, 2000).select(F.xxhash64("id").alias("k"))
    delta = spark.range(100_000, 101_500).select(F.xxhash64("id").alias("k"))
    whole = build_bloom(base.unionByName(delta), "k", expected=20_000, fpp=0.01)
    keys = delta.toPandas()["k"].to_numpy(dtype=np.int64)
    grown = build_bloom(base, "k", expected=20_000, fpp=0.01).with_keys(keys)
    assert np.array_equal(grown.bits, whole.bits)
    assert grown.might_contain(keys).all()
