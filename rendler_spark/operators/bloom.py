"""Sharded numpy Bloom filter — the URL-seen-set prefilter.

RENDLER's seen set was an in-memory Python ``set()`` on the scheduler
[upstream: python/rendler.py ~L42 ``processedURLs``] — a single-process
bottleneck.  The north rule demands "a partitioned Bloom/cuckoo-filter URL
seen set (sharded by canonicalized URL hash)" with the *exact* set preserved
(BASELINE.json:L6): the Bloom shards are a PREFILTER that lets
definitely-new URLs skip the exact anti-join shuffle entirely; URLs the
filter flags as maybe-seen still go through the exact anti-join, so false
positives cost work, never correctness.  Zero false negatives by
construction (tested with hypothesis).

This Spark build lacks ``bloom_filter_agg``/``might_contain`` (probed,
SURVEY.md §0.4), so bits live in numpy arrays:

* build: ``seen.groupBy("shard").applyInPandas(build_shard_udf)`` — one
  grouped-map task per shard, emitting ``(shard, bits binary)``; the driver
  ORs per-wave increments into its running shard dict (bits-sized, never
  row-sized).
* probe: shard dict broadcast (the "broadcast" arm of BASELINE.json:L6
  "broadcast or shuffle-hash join by hash prefix"); the fetch kernel
  (engine.make_fetch_render_arrow) hashes each canonical link with
  ``hashing.xxhash64_utf8`` and tests the hashes vectorized per shard
  present in the batch.

Membership hashing is double hashing over the 64-bit xxhash64 of the
canonical URL: position_i = (h1 + i*h2) mod m (Kirsch–Mitzenmacher).
"""

from __future__ import annotations

import numpy as np

from rendler_spark.hashing import splitmix64

_C1 = np.uint64(0xA076_1D64_78BD_642F)
_C2 = np.uint64(0xE703_7ED1_A0B4_28DB)


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id = hash mod n_shards (hash taken as unsigned 64-bit).

    Matches Spark-side ``F.pmod(F.xxhash64(url), n_shards)`` — pmod of the
    signed value equals the unsigned value mod n_shards only when n_shards
    divides 2^64's residue consistently; we therefore mirror Spark's pmod
    on the SIGNED value to keep both sides identical.
    """
    h = np.asarray(hashes, dtype=np.int64)
    return np.mod(h, np.int64(n_shards)).astype(np.int32)  # numpy mod is pmod


def _positions(hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    """(k, n) bit positions via double hashing; m need not be a power of 2."""
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    h1 = splitmix64(h ^ _C1)
    h2 = splitmix64(h ^ _C2) | np.uint64(1)
    with np.errstate(over="ignore"):
        pos = np.stack([(h1 + np.uint64(i) * h2) % np.uint64(m) for i in range(k)])
    return pos.astype(np.int64)


def empty_bits(m_bits: int) -> np.ndarray:
    return np.zeros(m_bits // 8, dtype=np.uint8)


def build_bits(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Bloom bits (uint8 byte array) for a set of int64 hashes."""
    bits = empty_bits(m_bits)
    if len(hashes):
        pos = _positions(hashes, k, m_bits).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits


def or_bits(a: np.ndarray, b: bytes | np.ndarray) -> np.ndarray:
    return a | np.frombuffer(bytes(b), dtype=np.uint8)


def contains(bits: np.ndarray | bytes, hashes: np.ndarray, k: int) -> np.ndarray:
    """Vectorized membership: True = maybe seen, False = definitely new."""
    bits = np.frombuffer(bytes(bits), dtype=np.uint8) if isinstance(bits, (bytes, bytearray)) else bits
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    m_bits = len(bits) * 8
    pos = _positions(hashes, k, m_bits)
    hit = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return hit.all(axis=0)


def contains_sharded(
    shard_bits: dict[int, np.ndarray], hashes: np.ndarray, n_shards: int, k: int
) -> np.ndarray:
    """Membership against a dict of per-shard bit arrays, vectorized per
    shard present in the batch (<= n_shards numpy passes, no per-row work)."""
    h = np.asarray(hashes, dtype=np.int64)
    out = np.zeros(len(h), dtype=bool)
    sh = shard_of(h, n_shards)
    for s in np.unique(sh):
        bits = shard_bits.get(int(s))
        if bits is None:
            continue  # empty shard: definitely new
        m = sh == s
        out[m] = contains(bits, h[m], k)
    return out
