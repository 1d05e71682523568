"""Vectorized XXH64 over byte slices — bit-identical to Spark's
``xxhash64`` (catalyst ``XXH64.hashUnsafeBytes`` / ``hashInt`` /
``hashLong``), implemented with NumPy uint64 arithmetic so a mapInArrow
kernel can hash millions of text slices per task at native speed.

Why this exists: the MinHash signature stage hashed every shingle 32
times through ``xxhash64(lit(j), shingle)`` inside an exploded groupBy —
per-shingle string materialization (split + concat_ws), a corpus-sized
explode, and a 32-aggregate exchange. A shingle of ``split(' ')`` words
re-joined by ``' '`` is exactly a CONTIGUOUS byte slice of the trimmed
text (split-then-join on the same separator is the identity), so the
whole stage collapses to: find the space positions, hash (start, end)
slices of the raw UTF-8 buffer under 32 seeds, take per-document mins.
This module provides the hash; ``dedup.minhash_signatures_fast`` does
the slicing.

Semantics matched (and pinned by tests/test_operators.py parity tests
against ``F.xxhash64`` itself):

- ``hash_int(i, seed)``      == xxhash64 of one IntegerType column
- ``hash_slices_multi(...)`` == xxhash64 of a StringType column (UTF-8
  bytes), vectorized over N (start, end) slices of one buffer under S
  seeds — Spark hashes a string as raw bytes via hashUnsafeBytes, which
  on x86 is little-endian word reads (this implementation assumes a
  little-endian host, as Spark's Platform.getLong does).

All arithmetic is modulo 2**64 (NumPy unsigned wraparound); outputs are
reinterpreted as signed int64 (``.view``) because Spark's LongType — and
therefore every downstream ``min``/comparison — is signed.
"""

from __future__ import annotations

import sys

import numpy as np


class ByteOrderError(RuntimeError):
    """The host is big-endian, which the raw-Arrow-buffer kernels do not
    support."""


def require_little_endian() -> None:
    """Refuse a big-endian host, typed. Arrow buffers are little-endian
    by spec, and this module's word reads and ``dedup._slice_geometry``'s
    offset views reinterpret them with NATIVE-order numpy dtypes, so on a
    big-endian host they would hash garbage and return wrong answers
    silently. Checked at import (``dedup`` imports this module)."""
    if sys.byteorder != "little":
        raise ByteOrderError(
            f"xxh64np: host byte order is {sys.byteorder}-endian; the "
            f"Arrow-buffer kernels (xxh64np, dedup n-gram slicing) read "
            f"little-endian buffers with native dtypes and need a "
            f"little-endian host"
        )


require_little_endian()

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_U64 = np.uint64


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = _U64(r)
    return (x << r) | (x >> (_U64(64) - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * _P2
    h = h ^ (h >> _U64(29))
    h = h * _P3
    h = h ^ (h >> _U64(32))
    return h


def hash_int(i: int, seed: int = 42) -> int:
    """Spark XXH64.hashInt of one IntegerType value (scalar; used to
    pre-fold the ``lit(j)`` salt into a per-salt string seed)."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        h = _U64(seed) + _P5 + _U64(4)
        h = h ^ (_U64(i & 0xFFFFFFFF) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return int(_fmix(h))


def pack_slices(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Gather N variable-length byte slices of ``data`` (uint8) into a
    zero-padded (N, W) little-endian uint64 word matrix ready for
    ``hash_slices_multi``. Returns (words, lens-as-uint64). Zero padding is
    safe: the hash only ever reads whole words/bytes inside each length.
    """
    n = len(starts)
    maxlen = int(lens.max()) if n else 0
    w_bytes = max(((maxlen + 7) // 8) * 8, 8)
    padded = np.zeros((n, w_bytes), dtype=np.uint8)
    if maxlen:
        cols = np.arange(maxlen, dtype=np.int64)
        mask = cols[None, :] < lens[:, None]
        pos = starts[:, None].astype(np.int64) + cols[None, :]
        padded[:, :maxlen][mask] = data[pos[mask]]
    words = padded.view("<u8")
    return words, lens.astype(np.uint64)


def hash_slices_multi(
    words: np.ndarray, lens: np.ndarray, seeds: np.ndarray
) -> np.ndarray:
    """Spark XXH64.hashUnsafeBytes over N byte slices under S seeds at
    once — the MinHash shape (32 salted hashes of every shingle). Returns
    a (S, N) uint64 matrix. One pass over the data gathers each word ONCE
    and broadcasts it across the seed axis, so the per-seed marginal cost
    is pure uint64 arithmetic, no re-gather.

    Stripe/word/tail loops run over the MAX count in the batch with
    per-row active masks — shingle-sized inputs (< 32 bytes) skip the
    stripe phase entirely and do <= 3 word iterations.
    """
    n = len(lens)
    seeds = np.asarray(seeds, dtype=np.uint64)
    s_col = seeds[:, None]  # (S, 1) broadcasting against (N,) row axes
    ns = len(seeds)

    nstripes = np.where(lens >= 32, lens // _U64(32), _U64(0))
    max_stripes = int(nstripes.max()) if n else 0

    if max_stripes:
        v1 = np.broadcast_to(s_col + _P1 + _P2, (ns, n)).copy()
        v2 = np.broadcast_to(s_col + _P2, (ns, n)).copy()
        v3 = np.broadcast_to(s_col, (ns, n)).copy()
        v4 = np.broadcast_to(s_col - _P1, (ns, n)).copy()
        for s in range(max_stripes):
            idx = np.flatnonzero(nstripes > s)
            base = 4 * s
            v1[:, idx] = _rotl(v1[:, idx] + words[idx, base] * _P2, 31) * _P1
            v2[:, idx] = _rotl(v2[:, idx] + words[idx, base + 1] * _P2, 31) * _P1
            v3[:, idx] = _rotl(v3[:, idx] + words[idx, base + 2] * _P2, 31) * _P1
            v4[:, idx] = _rotl(v4[:, idx] + words[idx, base + 3] * _P2, 31) * _P1
        big = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            big = (big ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        h = np.where(lens >= 32, big, s_col + _P5) + lens
    else:
        h = np.broadcast_to(s_col + _P5, (ns, n)) + lens

    # full 8-byte words after the stripes: word indices 4*nstripes .. len//8-1
    ntail = lens // _U64(8) - _U64(4) * nstripes
    max_tail = int(ntail.max()) if n else 0
    for t in range(max_tail):
        idx = np.flatnonzero(ntail > t)
        k1 = words[idx, (_U64(4) * nstripes[idx] + _U64(t)).astype(np.int64)]
        mixed = _rotl(k1 * _P2, 31) * _P1
        h[:, idx] = _rotl(h[:, idx] ^ mixed, 27) * _P1 + _P4

    # one 4-byte chunk if (len % 8) >= 4 — it is the low half of word len//8
    rem8 = lens % _U64(8)
    idx = np.flatnonzero(rem8 >= 4)
    if len(idx):
        k4 = words[idx, (lens[idx] // _U64(8)).astype(np.int64)] & _U64(0xFFFFFFFF)
        h[:, idx] = _rotl(h[:, idx] ^ (k4 * _P1), 23) * _P2 + _P3

    # remaining single bytes — still inside word len//8, after the 4-chunk
    nbytes = lens % _U64(4)
    max_bytes = int(nbytes.max()) if n else 0
    for b in range(max_bytes):
        idx = np.flatnonzero(nbytes > b)
        has4 = (rem8[idx] >= 4).astype(np.uint64)
        shift = _U64(8) * (_U64(4) * has4 + _U64(b))
        byte = (words[idx, (lens[idx] // _U64(8)).astype(np.int64)] >> shift) & _U64(0xFF)
        h[:, idx] = _rotl(h[:, idx] ^ (byte * _P5), 11) * _P1

    return _fmix(h)


def string_seeds_for_salts(num: int, seed: int = 42) -> list[int]:
    """Per-salt string seeds for ``xxhash64(lit(j), col)``: Spark folds
    the IntegerType literal first, so the string is hashed under
    ``hashInt(j, 42)``."""
    return [hash_int(j, seed) for j in range(num)]
