"""Deterministic 64-bit hash mixing, vectorized over numpy uint64 arrays.

This is the single source of randomness for the synthetic web (FIXTURES.md
§1): the engine's pandas UDFs and the pure-Python oracle simulator both call
these functions, so page content is byte-identical regardless of which side
generates it.  splitmix64 is the public-domain finalizer from Steele et al.,
"Fast Splittable Pseudorandom Number Generators" (OOPSLA 2014).

``xxhash64_utf8`` is XXH64 (Collet, xxHash) over strings, bit-identical to
Spark's ``F.xxhash64(col)`` on a string column, so a Python kernel can
compute the same ``url_hash`` the seen table is keyed and sharded by.

Everything here operates on numpy arrays end-to-end — no per-row Python —
so it is safe to call inside vectorized pandas UDFs (BASELINE.json:L6
"no per-row Python").
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_M1 = _U64(0xBF58476D1CE4E5B9)
_M2 = _U64(0x94D049BB133111EB)


def _sm64(z: np.ndarray) -> np.ndarray:
    """splitmix64 core without the errstate guard (caller holds it) —
    entering np.errstate per inner call dominated the mixing cost in the
    render kernel (guide §4.2: per-call overhead inside hot UDF loops)."""
    z = z + _GOLDEN
    z = (z ^ (z >> _U64(30))) * _M1
    z = (z ^ (z >> _U64(27))) * _M2
    return z ^ (z >> _U64(31))


def splitmix64(x) -> np.ndarray:
    """splitmix64 finalizer; accepts scalar or uint64 array, returns uint64."""
    with np.errstate(over="ignore"):
        return _sm64(np.asarray(x).astype(np.uint64, copy=True))


def mix(*parts) -> np.ndarray:
    """Fold any number of scalar/array uint64 parts into one hash.

    ``mix(seed, i, j, tag)`` — each part is mixed then xor-folded, so the
    result depends on order and on every part.  Broadcasting follows numpy
    rules (scalars broadcast against arrays).
    """
    with np.errstate(over="ignore"):
        acc = _U64(0x243F6A8885A308D3)  # pi fraction, arbitrary non-zero
        for p in parts:
            acc = _sm64(np.asarray(p).astype(np.uint64) ^ acc)
    return acc


def mix_int(*parts) -> int:
    """Scalar convenience: ``mix`` collapsed to a Python int."""
    return int(mix(*[np.uint64(p) for p in parts]))


def to_i64(u: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 hash bits as signed int64 (Spark LongType)."""
    return np.asarray(u, dtype=np.uint64).view(np.int64)


# XXH64 primes (xxHash spec; Spark's catalyst XXH64 uses the same)
_P1 = _U64(0x9E3779B185EBCA87)
_P2 = _U64(0xC2B2AE3D27D4EB4F)
_P3 = _U64(0x165667B19E3779F9)
_P4 = _U64(0x85EBCA77C2B2AE63)
_P5 = _U64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _xxh64_round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _xxh64_fixed(rows: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 matrix — every key in the
    call has the same byte length L, so each step is one numpy op over
    all n keys (the caller holds the overflow errstate)."""
    n, length = rows.shape
    n_words = length // 8
    words = np.ascontiguousarray(rows[:, : n_words * 8]).view("<u8").astype(_U64)
    seed = _U64(seed)
    w = 0
    if length >= 32:
        v = [
            np.full(n, seed + _P1 + _P2, _U64),
            np.full(n, seed + _P2, _U64),
            np.full(n, seed, _U64),
            np.full(n, seed - _P1, _U64),
        ]
        while w + 4 <= n_words:
            for i in range(4):
                v[i] = _xxh64_round(v[i], words[:, w + i])
            w += 4
        acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for i in range(4):
            acc = (acc ^ _xxh64_round(np.zeros(n, _U64), v[i])) * _P1 + _P4
    else:
        acc = np.full(n, seed + _P5, _U64)
    acc = acc + _U64(length)
    for j in range(w, n_words):
        acc = _rotl(acc ^ _xxh64_round(np.zeros(n, _U64), words[:, j]), 27) * _P1 + _P4
    at = n_words * 8
    if at + 4 <= length:
        lane = np.ascontiguousarray(rows[:, at : at + 4]).view("<u4")[:, 0]
        acc = _rotl(acc ^ (lane.astype(_U64) * _P1), 23) * _P2 + _P3
        at += 4
    for j in range(at, length):
        acc = _rotl(acc ^ (rows[:, j].astype(_U64) * _P5), 11) * _P1
    acc = (acc ^ (acc >> _U64(33))) * _P2
    acc = (acc ^ (acc >> _U64(29))) * _P3
    return acc ^ (acc >> _U64(32))


def xxhash64_utf8(strings, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of each string's UTF-8 bytes, as int64.

    ``strings`` is an Arrow string array (sliced arrays included) or a
    sequence ``pa.array`` takes.  Keys are grouped by byte length and each
    group is hashed as one matrix (``_xxh64_fixed``): the Python loop is
    over distinct lengths and 8-byte words, never over keys.  A null
    hashes to ``seed``, as Spark leaves the seed unchanged for a null."""
    import pyarrow as pa

    arr = strings if isinstance(strings, pa.Array) else pa.array(strings, pa.string())
    n = len(arr)
    out = np.full(n, _U64(seed), _U64)
    if n == 0:
        return to_i64(out)
    _, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, np.int32)[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    starts = offs[:-1].astype(np.int64)
    lens = np.diff(offs)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    with np.errstate(over="ignore"):
        for length in np.unique(lens[valid]):
            idx = np.flatnonzero((lens == length) & valid)
            out[idx] = _xxh64_fixed(data[starts[idx, None] + np.arange(length)], seed)
    return to_i64(out)
