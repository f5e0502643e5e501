"""Broadcast bloom filter for the URL-seen probe (north rule, SURVEY §2.3 J1).

Build side: Spark's own sketch (``Dataset.stat.bloomFilter`` via py4j) —
the bitmap is built DISTRIBUTED (per-partition blooms OR-merged by the
JVM's tree aggregation), only the final bitmap reaches the driver.

Probe side: the serialized bitmap is broadcast into an Arrow-batched
pandas UDF and probed with a vectorized numpy reimplementation of the
sketch's exact probe math (Murmur3_x86_32 over the two 32-bit halves of
the long key, double hashing h1 + i*h2, sign-folded modulo the bit size —
org.apache.spark.util.sketch.BloomFilterImpl.mightContainLong semantics).
No false negatives by construction, so the downstream exact anti-join
only has to look at survivors; false positives are killed there.

The 64-bit key is ``xxhash64(canonical url)`` computed JVM-side
(the "canonicalized + 64-bit-hashed URLs" of BASELINE.json north_star).
This is the engine's one seen-set prefilter: a sharded cuckoo filter was
measured against it and removed (same probe contract, no faster).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1(k1: np.ndarray) -> np.ndarray:
    k1 = k1 * _C1
    k1 = _rotl32(k1, 15)
    return k1 * _C2


def _mix_h1(h1: np.ndarray, k1: np.ndarray) -> np.ndarray:
    h1 = h1 ^ k1
    h1 = _rotl32(h1, 13)
    return h1 * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix(h1: np.ndarray, length: int) -> np.ndarray:
    h1 = h1 ^ np.uint32(length)
    h1 ^= h1 >> np.uint32(16)
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 ^= h1 >> np.uint32(13)
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 ^= h1 >> np.uint32(16)
    return h1


def murmur3_hash_long(values: np.ndarray, seed: np.ndarray | int) -> np.ndarray:
    """Vectorized Murmur3_x86_32.hashLong: the long is consumed as two
    little-endian 32-bit blocks (low half first)."""
    v = values.astype(np.int64).view(np.uint64)
    low = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    high = (v >> np.uint64(32)).astype(np.uint32)
    with np.errstate(over="ignore"):
        h1 = (
            np.full(len(v), seed, dtype=np.uint32)
            if np.isscalar(seed)
            else seed.astype(np.uint32)
        )
        h1 = _mix_h1(h1, _mix_k1(low))
        h1 = _mix_h1(h1, _mix_k1(high))
        return _fmix(h1, 8)


@dataclass(frozen=True)
class BloomBlob:
    version: int
    num_hashes: int
    seed: int
    bits: np.ndarray  # uint64 words, big-endian packed as in the sketch
    bit_size: int

    def _test_bits(self, idx: np.ndarray, out: np.ndarray) -> None:
        word = self.bits[idx >> 6]
        shift = (idx & np.int64(63)).astype(np.uint64)
        out &= (word >> shift) & np.uint64(1) != 0

    def _bit_indices(self, values: np.ndarray):
        """The sketch's bit index arrays for ``values``, one per hash.

        V1 (BloomFilterImpl): h1=murmur(v,0), h2=murmur(v,h1);
            bit_i = (int)(h1 + i*h2) sign-folded, mod bitSize, i=1..k.
        V2 (BloomFilterImplV2): hi=murmur(v,seed), lo=murmur(v,hi);
            combined = hi*2147483647L (+ lo per probe, LONG arithmetic),
            sign-folded, mod bitSize.
        """
        bit_size = np.int64(self.bit_size)
        h1 = murmur3_hash_long(values, np.uint32(self.seed)).astype(np.int32)
        h2 = murmur3_hash_long(values, h1.view(np.uint32)).astype(np.int32)
        if self.version == 1:
            for i in range(1, self.num_hashes + 1):
                combined = (
                    h1.astype(np.int64) + np.int64(i) * h2.astype(np.int64)
                ).astype(np.int32)
                idx = np.where(combined < 0, ~combined, combined).astype(np.int64)
                yield idx % bit_size
        else:
            with np.errstate(over="ignore"):
                combined = h1.astype(np.int64) * np.int64(2147483647)
                lo = h2.astype(np.int64)
                for _ in range(self.num_hashes):
                    combined = combined + lo  # wrapping int64, like Java
                    idx = np.where(combined < 0, ~combined, combined)
                    yield idx % bit_size

    def might_contain(self, values: np.ndarray) -> np.ndarray:
        """Vectorized mightContainLong for both sketch versions."""
        if self.bit_size == 0:
            return np.zeros(len(values), dtype=bool)
        out = np.ones(len(values), dtype=bool)
        for idx in self._bit_indices(values):
            self._test_bits(idx, out)
        return out

    def with_keys(self, values: np.ndarray) -> "BloomBlob":
        """A copy with ``values`` put in: the bits the sketch's putLong
        sets, so the result equals the JVM filter over both key sets."""
        bits = self.bits.copy()
        for idx in self._bit_indices(np.asarray(values, dtype=np.int64)):
            np.bitwise_or.at(
                bits, idx >> 6, np.uint64(1) << (idx & np.int64(63)).astype(np.uint64)
            )
        return BloomBlob(self.version, self.num_hashes, self.seed, bits, self.bit_size)


def deserialize_bloom(blob: bytes) -> BloomBlob:
    """Parse org.apache.spark.util.sketch.BloomFilter.writeTo output.

    V1 (Spark ≤3.x): int version, int k, BitArray(int numWords, longs).
    V2 (Spark 4.x):  int version, int k, int seed, BitArray(...)."""
    version, k = struct.unpack(">ii", blob[:8])
    if version == 1:
        seed, offset = 0, 8
    elif version == 2:
        (seed,) = struct.unpack(">i", blob[8:12])
        offset = 12
    else:
        raise ValueError(f"unsupported bloom sketch version {version}")
    (nwords,) = struct.unpack(">i", blob[offset : offset + 4])
    words = np.frombuffer(
        blob, dtype=">i8", count=int(nwords), offset=offset + 4
    ).astype(np.int64)
    return BloomBlob(
        version=version,
        num_hashes=k,
        seed=seed,
        bits=words.view(np.uint64),
        bit_size=int(nwords) * 64,
    )


def build_bloom(df: DataFrame, col: str, expected: int, fpp: float = 0.03) -> BloomBlob:
    """Distributed build through the JVM sketch; returns the parsed blob."""
    jdf = df._jdf
    jbloom = jdf.stat().bloomFilter(col, max(int(expected), 1), float(fpp))
    jvm = df.sparkSession._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    jbloom.writeTo(bos)
    return deserialize_bloom(bytes(bos.toByteArray()))


def might_contain_udf(blob: BloomBlob):
    """Arrow-batched probe over a LongType column."""

    @pandas_udf(BooleanType())
    def probe(keys: pd.Series) -> pd.Series:
        vals = keys.to_numpy(dtype=np.int64, na_value=0)
        return pd.Series(blob.might_contain(vals))

    return probe


def url_key64(url_col: Column) -> Column:
    """xxhash64 of the canonicalized URL (JVM built-in).

    NOTE: the crawl engine's seen-set bloom does NOT use this — its exact
    anti-join key is the scheme-less ``urlhash``, so the bloom is keyed on
    ``xxhash64(urlhash)`` directly (engine._new_urls / _seen_probe); keying
    on the url would miss http/https twins of seen pages. This helper
    remains for URL-keyed sketches where the url itself IS the identity."""
    from spacetime_crawler4_spark.functions.urls import normalize_url_col

    return F.xxhash64(normalize_url_col(url_col))
