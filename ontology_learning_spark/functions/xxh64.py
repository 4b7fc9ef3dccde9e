"""Pure-Python XXH64 (Yann Collet's xxHash, public-domain spec), bit-exact
with Spark's ``F.xxhash64`` over a single string/binary column (which hashes
the UTF-8 bytes with seed 42 and returns the result as a signed 64-bit long).

Exists so Arrow-vectorized operators can fold "hash each n-gram with
xxhash64" into the same Python pass that produces the n-grams, instead of
exploding every gram back into the JVM just to apply the hash expression
(one exchange + a wide aggregation per consumer). The JVM expression stays
the reference: ``tests/test_round6_band_arrow.py`` pins bitwise equality on
adversarial inputs and on every shingle of the driver corpus.

Spark reference: org.apache.spark.sql.catalyst.expressions.XxHash64 /
catalyst XXH64.hashUnsafeBytes — the standard XXH64 block/tail order
(32-byte stripes, then 8-byte words, then one 4-byte word, then bytes).
"""

from __future__ import annotations

import struct

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF

_U64 = struct.Struct("<Q").unpack_from
_U32 = struct.Struct("<I").unpack_from


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 of ``data``. Spark's default column-hash seed is 42."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        end = n - 32
        while i <= end:
            v1 = (_rotl((v1 + _U64(data, i)[0] * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + _U64(data, i + 8)[0] * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + _U64(data, i + 16)[0] * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + _U64(data, i + 24)[0] * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((_U64(data, i)[0] * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((_U32(data, i)[0] * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit view — exactly what ``F.xxhash64`` returns."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str, seed: int = 42) -> int:
    """Signed XXH64 of a Python string's UTF-8 bytes (≡ F.xxhash64(col))."""
    return xxh64_signed(s.encode("utf-8"), seed)


# ---------------------------------------------------------------------------
# Vectorized batch form: hash many byte strings at once. Strings are grouped
# by byte length; within a group every lane of the algorithm is a fixed-width
# numpy uint64 operation (unsigned wrap-around ≡ the spec's mod-2^64), so the
# per-string Python overhead disappears (~13 µs/str scalar → ~0.1 µs/str).
# Same bit-parity pinning as the scalar form (the test runs both).
# ---------------------------------------------------------------------------

import numpy as np

_NP_P1 = np.uint64(_P1)
_NP_P2 = np.uint64(_P2)
_NP_P3 = np.uint64(_P3)
_NP_P4 = np.uint64(_P4)
_NP_P5 = np.uint64(_P5)


def _nrotl(x: "np.ndarray", r: int) -> "np.ndarray":
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_fixed_len(buf: "np.ndarray", L: int, seed: int) -> "np.ndarray":
    """XXH64 of k same-length byte strings: ``buf`` is (k, Lpad) uint8 with
    Lpad a multiple of 8 and bytes beyond L zero (never read — the spec's
    reads at 8/4/1-byte granularity stay inside L). Words are read
    little-endian as the spec requires, whatever the host byte order."""
    w64 = buf.view(np.dtype("<u8"))
    w32 = buf.view(np.dtype("<u4"))
    k = buf.shape[0]
    i = 0
    if L >= 32:
        v1 = np.full(k, (seed + _P1 + _P2) & _M, dtype=np.uint64)
        v2 = np.full(k, (seed + _P2) & _M, dtype=np.uint64)
        v3 = np.full(k, seed & _M, dtype=np.uint64)
        v4 = np.full(k, (seed - _P1) & _M, dtype=np.uint64)
        for s in range(L // 32):
            c = s * 4
            v1 = _nrotl(v1 + w64[:, c] * _NP_P2, 31) * _NP_P1
            v2 = _nrotl(v2 + w64[:, c + 1] * _NP_P2, 31) * _NP_P1
            v3 = _nrotl(v3 + w64[:, c + 2] * _NP_P2, 31) * _NP_P1
            v4 = _nrotl(v4 + w64[:, c + 3] * _NP_P2, 31) * _NP_P1
        h = _nrotl(v1, 1) + _nrotl(v2, 7) + _nrotl(v3, 12) + _nrotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (_nrotl(v * _NP_P2, 31) * _NP_P1)) * _NP_P1 + _NP_P4
        i = (L // 32) * 32
    else:
        h = np.full(k, (seed + _P5) & _M, dtype=np.uint64)
    h = h + np.uint64(L)
    while i + 8 <= L:
        kk = _nrotl(w64[:, i // 8] * _NP_P2, 31) * _NP_P1
        h = _nrotl(h ^ kk, 27) * _NP_P1 + _NP_P4
        i += 8
    if i + 4 <= L:
        h = _nrotl(h ^ (w32[:, i // 4].astype(np.uint64) * _NP_P1), 23) * _NP_P2 + _NP_P3
        i += 4
    while i < L:
        h = _nrotl(h ^ (buf[:, i].astype(np.uint64) * _NP_P5), 11) * _NP_P1
        i += 1
    h ^= h >> np.uint64(33)
    h *= _NP_P2
    h ^= h >> np.uint64(29)
    h *= _NP_P3
    h ^= h >> np.uint64(32)
    return h


def xxh64_many(items: list, seed: int = 42) -> "np.ndarray":
    """Signed XXH64 (≡ ``F.xxhash64``) of a list of ``bytes``, vectorized.

    Returns int64 ndarray aligned with ``items``. Grouping is by byte
    length, so cost is O(total bytes) + O(#distinct lengths) numpy calls.
    """
    n = len(items)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    lens = np.fromiter((len(b) for b in items), dtype=np.int64, count=n)
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    # group boundaries: positions where the sorted length changes
    starts = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1]])
    ends = np.r_[starts[1:], n]
    with np.errstate(over="ignore"):
        for s, e in zip(starts, ends):
            idx = order[s:e]
            L = int(sl[s])
            k = e - s
            if L == 0:
                out[idx] = xxh64(b"", seed)
                continue
            lpad = ((L + 7) // 8) * 8
            buf = np.zeros((k, lpad), dtype=np.uint8)
            joined = b"".join(items[i] for i in idx)
            buf[:, :L] = np.frombuffer(joined, dtype=np.uint8).reshape(k, L)
            out[idx] = _xxh64_fixed_len(buf, L, seed)
    return out.view(np.int64)
