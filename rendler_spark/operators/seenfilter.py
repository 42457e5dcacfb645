"""Uniform dispatch over the two URL-seen prefilter kinds (Bloom / cuckoo).

The north rule names "a partitioned Bloom/cuckoo-filter URL-seen set"
(BASELINE.json:L6); the engine treats the filter as an opaque per-shard
byte blob with three operations — build, merge, contains — so either kind
plugs into the same driver-merged, broadcast prefilter.  All functions are module-level (picklable into Spark
UDF closures) and take the kind + params explicitly.

Contract shared by both kinds: ``contains`` has ZERO false negatives;
false positives route extra rows through the exact anti-join (correct,
just slower).  Cuckoo additionally supports deletion (see cuckoo.py).
"""

from __future__ import annotations

import numpy as np

from rendler_spark.operators import bloom as bloomops
from rendler_spark.operators import cuckoo as cuckooops

KINDS = ("bloom", "cuckoo")


def build_blob(kind: str, hashes: np.ndarray, params: dict) -> bytes:
    if kind == "bloom":
        return bloomops.build_bits(
            hashes, params["bloom_bits"], params["bloom_k"]
        ).tobytes()
    if kind == "cuckoo":
        return cuckooops.build_blob(
            hashes, params["cuckoo_buckets"], params["cuckoo_bucket_size"]
        )
    raise ValueError(f"unknown filter kind {kind!r}")


def merge_blobs(kind: str, a: bytes, b: bytes) -> bytes:
    if kind == "bloom":
        return (
            np.frombuffer(bytes(a), np.uint8) | np.frombuffer(bytes(b), np.uint8)
        ).tobytes()
    if kind == "cuckoo":
        return cuckooops.merge_blobs(a, b)
    raise ValueError(f"unknown filter kind {kind!r}")


def contains_blob(kind: str, blob: bytes, hashes: np.ndarray, params: dict) -> np.ndarray:
    if kind == "bloom":
        return bloomops.contains(blob, hashes, params["bloom_k"])
    if kind == "cuckoo":
        return cuckooops.contains_blob(blob, hashes)
    raise ValueError(f"unknown filter kind {kind!r}")


def contains_sharded(
    kind: str,
    shard_blobs: dict[int, bytes],
    hashes: np.ndarray,
    n_shards: int,
    params: dict,
) -> np.ndarray:
    """Membership against per-shard blobs, vectorized per shard present in
    the batch (<= n_shards passes, no per-row Python)."""
    h = np.asarray(hashes, dtype=np.int64)
    out = np.zeros(len(h), dtype=bool)
    sh = bloomops.shard_of(h, n_shards)
    for s in np.unique(sh):
        blob = shard_blobs.get(int(s))
        if blob is None:
            continue  # shard never built: definitely new
        m = sh == s
        out[m] = contains_blob(kind, blob, h[m], params)
    return out
