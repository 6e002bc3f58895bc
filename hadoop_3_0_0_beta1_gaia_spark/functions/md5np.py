"""Vectorized single-block MD5 (numpy) for fixed-length messages ≤ 55 bytes.

Why this exists (optimization round r11, guide §4.2 "hand whole batches to
vectorized native libraries"): the winnowing fingerprint kernel hashes every
CHARACTER position of every normalized document — an order of magnitude more
md5 calls than the token-shingle kernels (~165M at the sf10 fixture) — and a
per-gram ``hashlib.md5(...).hexdigest()`` Python loop was the measured wall
(19.7 s warm for doc_winnow_near_dup). Every winnow gram is exactly
``_WINNOW_K`` bytes on ASCII text, so each message fits ONE md5 block with
fixed padding and the whole digest loop collapses to 64 rounds of in-place
numpy uint32 arithmetic over all messages at once — measured 2.5M md5/s per
core vs 0.8M/s for the hashlib slice/hexdigest/int pipeline it replaces.

MD5 (RFC 1321) is exact integer math, so :func:`md5_60bit_fixed_len` is
bit-identical to ``int(hashlib.md5(m).hexdigest()[:15], 16)`` by
construction; equality is test-pinned against hashlib over random bytes of
every supported length (tests/test_operators.py).

The scalar side lives here too, once, for every text kernel: :func:`md5_60`
is the same intern for one string (the value of the Spark expression
``dedup.md5_long`` on the same text), and :class:`Md5Intern` is the one
bounded cross-document cache the kernels put in front of it (Zipf
vocabularies and boilerplate grams repeat across documents, so md5 runs
roughly once per distinct key per task).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np


def md5_64(s: str) -> int:
    """First 16 hex digits of md5 over the UTF-8 bytes of ``s`` as an
    unsigned 64-bit int — the two 32-bit words (hi << 32 | lo) the 63-bit
    simhash votes on."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def md5_60(s: str) -> int:
    """60-bit md5 intern of ``s`` — ``int(md5(s).hexdigest()[:15], 16)``,
    i.e. :func:`md5_64` without its low nibble, and the value Spark's
    ``md5_long`` and DuckDB's ``('0x' || substr(md5(s), 1, 15))::BIGINT``
    compute on the same text."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4


def md5_hex(s: str) -> str:
    """md5 hex digest of the UTF-8 bytes of ``s`` — Spark/DuckDB ``md5``."""
    return hashlib.md5(s.encode()).hexdigest()


# Bounds of :class:`Md5Intern`, on BOTH axes: the character budget caps the
# key bytes held (~100 MB of dict+str objects worst case per running task),
# the entry budget caps a short-key vocabulary (2-4 char tokens), whose
# per-entry dict+str overhead dwarfs the character estimate.
INTERN_MAX_CHARS = 8_000_000
INTERN_MAX_ENTRIES = 500_000


class Md5Intern:
    """Bounded key -> ``fn(key)`` cache shared by the text kernels
    (``fn`` is :func:`md5_60` unless a kernel needs :func:`md5_64` or
    :func:`md5_hex`). When the next key would push the cache past
    ``INTERN_MAX_ENTRIES`` entries or ``INTERN_MAX_CHARS`` key characters it
    is cleared, not evicted key by key: Zipf-hot keys re-enter at once, and a
    pathological vocabulary cannot grow a worker's memory. A key longer than
    the character budget is hashed but not kept. The cache is transparent:
    :meth:`hash_all` returns ``fn(k)`` for every key whatever it holds.

    Make one per kernel invocation (one task) and call :meth:`hash_all`
    once per document: the lookup loop runs inline there, so a kernel pays
    one Python call per document, not one per gram."""

    __slots__ = ("fn", "cache", "chars")

    def __init__(self, fn=md5_60):
        self.fn = fn
        self.cache: dict = {}
        self.chars = 0

    def hash_all(self, keys) -> list:
        """``[fn(k) for k in keys]``, through the cache."""
        cache = self.cache
        get = cache.get
        fn = self.fn
        chars = self.chars
        max_chars, max_entries = INTERN_MAX_CHARS, INTERN_MAX_ENTRIES
        out = []
        ap = out.append
        for k in keys:
            v = get(k)
            if v is None:
                v = fn(k)
                n = len(k)
                if chars + n > max_chars or len(cache) >= max_entries:
                    cache.clear()
                    chars = 0
                if n <= max_chars:
                    cache[k] = v
                    chars += n
            ap(v)
        self.chars = chars
        return out


# per-round left-rotate amounts (RFC 1321)
_S = (
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)
# sine-derived additive constants
_K = [int(abs(math.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)]
# message-word index per round
_G = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)]
)

_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)

# chunk sized so the working set (16 uint32 words + 4 state vectors + 2
# scratch vectors per message) stays cache-resident — measured fastest at
# 64k messages (2.5M md5/s core) vs 2.1M/s at 256k
_CHUNK = 65536


def md5_60bit_fixed_len(msgs: np.ndarray) -> np.ndarray:
    """60-bit md5 intern — ``int(md5(m).hexdigest()[:15], 16)`` — for a 2-D
    uint8 array of N equal-length messages (length ≤ 55 so one padded block
    suffices). Returns int64 values in [0, 2^60)."""
    if msgs.ndim != 2:
        raise ValueError("msgs must be (N, L) uint8")
    n, length = msgs.shape
    if length > 55:
        raise ValueError("single-block md5 requires message length <= 55")
    out = np.empty(n, dtype=np.int64)
    bitlen = length * 8
    for lo in range(0, n, _CHUNK):
        hi = min(lo + _CHUNK, n)
        m = hi - lo
        block = np.zeros((m, 64), dtype=np.uint8)
        block[:, :length] = msgs[lo:hi]
        block[:, length] = 0x80
        # little-endian 64-bit bit count; length <= 55 keeps it in 2 bytes
        block[:, 56] = bitlen & 0xFF
        block[:, 57] = (bitlen >> 8) & 0xFF
        w = block.view("<u4").reshape(m, 16)
        a = np.full(m, _INIT[0], dtype=np.uint32)
        b = np.full(m, _INIT[1], dtype=np.uint32)
        c = np.full(m, _INIT[2], dtype=np.uint32)
        d = np.full(m, _INIT[3], dtype=np.uint32)
        f = np.empty(m, dtype=np.uint32)
        t = np.empty(m, dtype=np.uint32)
        for i in range(64):
            # round function, in place into f (RFC 1321 F/G/H/I)
            if i < 16:
                np.bitwise_and(b, c, out=f)
                np.bitwise_and(~b, d, out=t)
                np.bitwise_or(f, t, out=f)
            elif i < 32:
                np.bitwise_and(d, b, out=f)
                np.bitwise_and(~d, c, out=t)
                np.bitwise_or(f, t, out=f)
            elif i < 48:
                np.bitwise_xor(b, c, out=f)
                np.bitwise_xor(f, d, out=f)
            else:
                np.bitwise_or(b, ~d, out=f)
                np.bitwise_xor(c, f, out=f)
            f += a
            f += np.uint32(_K[i])
            f += w[:, _G[i]]
            s = _S[i]
            # rotate-left f by s into t (uint32 wraparound is modular)
            np.left_shift(f, np.uint32(s), out=t)
            f >>= np.uint32(32 - s)
            np.bitwise_or(t, f, out=t)
            # (new a, d, c, b) = (old d, old c, old b, old b + rotl)
            a, d, c, b = d, c, b, b + t
        a += np.uint32(_INIT[0])
        b += np.uint32(_INIT[1])
        # digest = le(a) le(b) le(c) le(d); hexdigest[:15] is the first 60
        # bits big-endian: byteswap the two words and drop the low nibble
        hi64 = a.byteswap().astype(np.uint64) << np.uint64(32)
        out[lo:hi] = (
            (hi64 | b.byteswap().astype(np.uint64)) >> np.uint64(4)
        ).astype(np.int64)
    return out
