"""32-bit simhash fingerprints (reference helpers/simhash.py:5-51).

Semantics to match exactly:
- per word: ``h = crc64(word.encode('utf-8')) mod 2**32``; the 32 bits of
  ``h`` (MSB first) vote +count / -count into a 32-lane accumulator
- fingerprint bit i (MSB first) = 1 iff accumulator[i] > 0 (ties -> 0)
- two pages are near-duplicates iff hamming distance <= THRESHOLD=5

The accumulation is order-independent, so a batched/vectorized evaluation is
exactly equivalent to the reference's insertion-order dict loop.

Engine representation is a packed **int32-in-int64** (Spark LongType) so the
near-dup join can use the JVM built-in ``bit_count(h1 ^ h2) <= 5``; the
32-char '0'/'1' string form is provided for display/parity only
(reference stores the string, simhash.py:26-28).
"""

from __future__ import annotations

import numpy as np

from spacetime_crawler4_spark.functions.crc import crc64, crc64_batch

SIMHASH_BITS = 32
SIMHASH_THRESHOLD = 5  # reference helpers/simhash.py:3
# 16-bit popcount table for vectorized hamming distances (numpy 1.x has no
# bitwise_count): popcount(x32) = POPCOUNT16[lo16] + POPCOUNT16[hi16].
# Built in numpy: every Python worker that imports functions/ builds it.
POPCOUNT16 = (
    np.unpackbits(np.arange(1 << 16, dtype=np.uint16).view(np.uint8))
    .reshape(-1, 16)
    .sum(axis=1, dtype=np.uint8)
)

_BIT_POS = np.arange(SIMHASH_BITS - 1, -1, -1, dtype=np.uint64)  # MSB first
_POW2 = (np.uint64(1) << _BIT_POS).astype(np.int64)

# process-level memo: token -> 32-bit word hash (vocab is heavy-tailed;
# the reference recomputes crc64 per page, we amortize across the batch)
_WORDHASH_CACHE: dict[str, int] = {}


def _word_hash32(word: str) -> int:
    h = _WORDHASH_CACHE.get(word)
    if h is None:
        h = crc64(word.encode("utf-8")) & 0xFFFFFFFF
        if len(_WORDHASH_CACHE) < 2_000_000:
            _WORDHASH_CACHE[word] = h
    return h


def _prime_cache(words: list[str]) -> None:
    missing = [w for w in words if w not in _WORDHASH_CACHE]
    if not missing:
        return
    hashes = crc64_batch([w.encode("utf-8") for w in missing]) & np.uint64(0xFFFFFFFF)
    for w, h in zip(missing, hashes.tolist()):
        if len(_WORDHASH_CACHE) >= 2_000_000:
            break
        _WORDHASH_CACHE[w] = int(h)


def simhash32(word_counts: dict[str, int]) -> int:
    """Packed 32-bit simhash of a word-frequency map (0 for empty map).

    Fully vectorized per document: one (n_words × 32) bit-unpack and one
    weighted column sum — numerically identical to the reference's
    per-word accumulation loop (the vote sum is order-free)."""
    if not word_counts:
        return 0
    words = list(word_counts.keys())
    _prime_cache(words)
    h = np.fromiter(
        (_word_hash32(w) for w in words), dtype=np.uint64, count=len(words)
    )
    c = np.fromiter(word_counts.values(), dtype=np.int64, count=len(words))
    bits = ((h[:, None] >> _BIT_POS[None, :]) & np.uint64(1)).astype(np.int64)
    v = ((2 * bits - 1) * c[:, None]).sum(axis=0)
    return int(((v > 0).astype(np.int64) * _POW2).sum())


def simhash32_str(word_counts: dict[str, int]) -> str:
    """Reference string form: 32 chars of '0'/'1', MSB first."""
    return format(simhash32(word_counts), f"0{SIMHASH_BITS}b")


# ---------------------------------------------------------------- 64-bit
# The parity plane keeps the reference's 32-bit fingerprint, which
# SATURATES: with hamming<=5 on 32 bits, random-corpus collisions make
# ~everything pair up beyond ~10^5 docs (BASELINE.md scale notes). The
# production dedup plane uses the FULL crc64 (same hash family, same vote
# rule, 64 lanes) so banding keeps candidate volume linear at corpus scale.

_BIT_POS64 = np.arange(63, -1, -1, dtype=np.uint64)  # MSB first
_POW2_64 = np.uint64(1) << _BIT_POS64


def simhash64(word_counts: dict[str, int]) -> int:
    """Packed 64-bit simhash (full crc64 per word, MSB-first bit votes),
    returned as a SIGNED 64-bit int for Spark LongType (two's complement).
    Empty map -> 0. Same accumulation rule as simhash32 — order-free."""
    if not word_counts:
        return 0
    words = list(word_counts.keys())
    h = crc64_batch([w.encode("utf-8") for w in words])
    c = np.fromiter(word_counts.values(), dtype=np.int64, count=len(words))
    bits = ((h[:, None] >> _BIT_POS64[None, :]) & np.uint64(1)).astype(np.int64)
    v = ((2 * bits - 1) * c[:, None]).sum(axis=0)
    packed = int(((v > 0).astype(np.uint64) * _POW2_64).sum())
    return packed - (1 << 64) if packed >= (1 << 63) else packed


def hamming32(h1: int, h2: int) -> int:
    return bin((h1 ^ h2) & 0xFFFFFFFF).count("1")
