"""Pure-Python XXH3-128 with seed.

Implementation of the public-domain XXH3 algorithm (Yann Collet's xxHash,
https://github.com/Cyan4973/xxHash — BSD 2-clause; algorithm spec is public).
Only the 128-bit seeded variant is provided, matching what the reference's
hasher uses (ref stablehash/fast_hasher.go:81-95 calls
``xxh3.Hash128Seed``).

This port is the package's only scalar XXH3: it needs no C ``xxhash``
wheel.  POI inputs are tiny (field encodings, 24-byte mixer states), so the
short-input paths dominate.

The POI hot path hashes through the numpy kernels in ``xxh3_batch.py``
(differential-tested against this port); this module is the scalar trust
anchor that reproduces the reference's golden vectors directly.
"""

from __future__ import annotations

import struct

M32 = 0xFFFFFFFF
M64 = 0xFFFFFFFFFFFFFFFF

P32_1 = 0x9E3779B1
P32_2 = 0x85EBCA77
P32_3 = 0xC2B2AE3D
P64_1 = 0x9E3779B185EBCA87
P64_2 = 0xC2B2AE3D27D4EB4F
P64_3 = 0x165667B19E3779F9
P64_4 = 0x85EBCA77C2B2AE63
P64_5 = 0x27D4EB2F165667C5

K_SECRET = bytes.fromhex(
    "b8fe6c3923a44bbe7c01812cf721ad1cded46de9839097db7240a4a4b7b3671f"
    "cb79e64eccc0e578825ad07dccff7221b8084674f743248ee03590e6813a264c"
    "3c2852bb91c300cb88d0658b1b532ea371644897a20df94e3819ef46a9deacd8"
    "a8fa763fe39c343ff9dcbbc7c70b4f1d8a51e04bcdb45931c89f7ec9d9787364"
    "eac5ac8334d3ebc3c581a0fffa1363eb170ddd51b7f0da49d316552629d4689e"
    "2b16be587d47a1fc8ff8b8d17ad031ce45cb3a8f95160428afd7fbcabb4b407e"
)

_u64 = struct.Struct("<Q").unpack_from
_u32 = struct.Struct("<I").unpack_from


def _r64(b: bytes, off: int = 0) -> int:
    return _u64(b, off)[0]


def _r32(b: bytes, off: int = 0) -> int:
    return _u32(b, off)[0]


def _rotl32(x: int, r: int) -> int:
    x &= M32
    return ((x << r) | (x >> (32 - r))) & M32


def _swap32(x: int) -> int:
    return int.from_bytes((x & M32).to_bytes(4, "little"), "big")


def _swap64(x: int) -> int:
    return int.from_bytes((x & M64).to_bytes(8, "little"), "big")


def _mul128_fold64(a: int, b: int) -> int:
    p = a * b
    return ((p & M64) ^ (p >> 64)) & M64


def _xorshift64(v: int, s: int) -> int:
    return v ^ (v >> s)


def _xxh3_avalanche(h: int) -> int:
    h = _xorshift64(h & M64, 37)
    h = (h * 0x165667919E3779F9) & M64
    return _xorshift64(h, 32)


def _xxh64_avalanche(h: int) -> int:
    h &= M64
    h ^= h >> 33
    h = (h * P64_2) & M64
    h ^= h >> 29
    h = (h * P64_3) & M64
    h ^= h >> 32
    return h


def _mix16b(inp: bytes, off: int, secret: bytes, soff: int, seed: int) -> int:
    lo = _r64(inp, off)
    hi = _r64(inp, off + 8)
    return _mul128_fold64(
        lo ^ ((_r64(secret, soff) + seed) & M64),
        hi ^ ((_r64(secret, soff + 8) - seed) & M64),
    )


def _mix32b(acc_lo, acc_hi, inp, off1, off2, secret, soff, seed):
    acc_lo = (acc_lo + _mix16b(inp, off1, secret, soff, seed)) & M64
    acc_lo ^= (_r64(inp, off2) + _r64(inp, off2 + 8)) & M64
    acc_hi = (acc_hi + _mix16b(inp, off2, secret, soff + 16, seed)) & M64
    acc_hi ^= (_r64(inp, off1) + _r64(inp, off1 + 8)) & M64
    return acc_lo, acc_hi


def _xxh3_128_seed_uncached(data: bytes, seed: int) -> tuple[int, int]:
    n = len(data)
    if n <= 16:
        if n > 8:
            return _len_9to16(data, n, seed)
        if n >= 4:
            return _len_4to8(data, n, seed)
        if n:
            return _len_1to3(data, n, seed)
        return _len_0(seed)
    if n <= 128:
        return _len_17to128(data, n, seed)
    if n <= 240:
        return _len_129to240(data, n, seed)
    return _hash_long(data, n, seed)


def xxh3_128_seed(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Return (low64, high64) of XXH3-128(data, seed).

    Every call carries a distinct seed (the field address incorporates
    block and event index), so memoization cannot help."""
    return _xxh3_128_seed_uncached(data, seed & M64)


def _len_0(seed: int) -> tuple[int, int]:
    s = K_SECRET
    lo = _xxh64_avalanche(seed ^ _r64(s, 64) ^ _r64(s, 72))
    hi = _xxh64_avalanche(seed ^ _r64(s, 80) ^ _r64(s, 88))
    return lo, hi


def _len_1to3(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = K_SECRET
    c1, c2, c3 = d[0], d[n >> 1], d[n - 1]
    combined_l = ((c1 << 16) | (c2 << 24) | c3 | (n << 8)) & M32
    combined_h = _rotl32(_swap32(combined_l), 13)
    bitflip_l = ((_r32(s, 0) ^ _r32(s, 4)) + seed) & M64
    bitflip_h = ((_r32(s, 8) ^ _r32(s, 12)) - seed) & M64
    lo = _xxh64_avalanche(combined_l ^ bitflip_l)
    hi = _xxh64_avalanche(combined_h ^ bitflip_h)
    return lo, hi


def _len_4to8(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = K_SECRET
    seed ^= (_swap32(seed & M32) << 32) & M64
    input_lo = _r32(d, 0)
    input_hi = _r32(d, n - 4)
    input_64 = input_lo + (input_hi << 32)
    bitflip = ((_r64(s, 16) ^ _r64(s, 24)) + seed) & M64
    keyed = input_64 ^ bitflip
    p = keyed * ((P64_1 + (n << 2)) & M64)
    m_lo, m_hi = p & M64, (p >> 64) & M64
    m_hi = (m_hi + ((m_lo << 1) & M64)) & M64
    m_lo ^= m_hi >> 3
    m_lo = _xorshift64(m_lo, 35)
    m_lo = (m_lo * 0x9FB21C651E98DF25) & M64
    m_lo = _xorshift64(m_lo, 28)
    m_hi = _xxh3_avalanche(m_hi)
    return m_lo, m_hi


def _len_9to16(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = K_SECRET
    bitflip_l = ((_r64(s, 32) ^ _r64(s, 40)) - seed) & M64
    bitflip_h = ((_r64(s, 48) ^ _r64(s, 56)) + seed) & M64
    input_lo = _r64(d, 0)
    input_hi = _r64(d, n - 8)
    p = (input_lo ^ input_hi ^ bitflip_l) * P64_1
    m_lo, m_hi = p & M64, (p >> 64) & M64
    m_lo = (m_lo + ((n - 1) << 54)) & M64
    input_hi ^= bitflip_h
    m_hi = (m_hi + input_hi + ((input_hi & M32) * (P32_2 - 1))) & M64
    m_lo ^= _swap64(m_hi)
    p2 = m_lo * P64_2
    h_lo, h_hi = p2 & M64, (p2 >> 64) & M64
    h_hi = (h_hi + m_hi * P64_2) & M64
    return _xxh3_avalanche(h_lo), _xxh3_avalanche(h_hi)


def _len_17to128(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = K_SECRET
    acc_lo = (n * P64_1) & M64
    acc_hi = 0
    if n > 32:
        if n > 64:
            if n > 96:
                acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, d, 48, n - 64, s, 96, seed)
            acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, d, 32, n - 48, s, 64, seed)
        acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, d, 16, n - 32, s, 32, seed)
    acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, d, 0, n - 16, s, 0, seed)
    return _final_merge(acc_lo, acc_hi, n, seed)


_MIDSIZE_STARTOFFSET = 3
_MIDSIZE_LASTOFFSET = 17
_SECRET_SIZE_MIN = 136


def _len_129to240(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = K_SECRET
    nb_rounds = n // 32
    acc_lo = (n * P64_1) & M64
    acc_hi = 0
    for i in range(4):
        acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, d, 32 * i, 32 * i + 16, s, 32 * i, seed)
    acc_lo = _xxh3_avalanche(acc_lo)
    acc_hi = _xxh3_avalanche(acc_hi)
    for i in range(4, nb_rounds):
        acc_lo, acc_hi = _mix32b(
            acc_lo, acc_hi, d, 32 * i, 32 * i + 16,
            s, _MIDSIZE_STARTOFFSET + 32 * (i - 4), seed,
        )
    acc_lo, acc_hi = _mix32b(
        acc_lo, acc_hi, d, n - 16, n - 32,
        s, _SECRET_SIZE_MIN - _MIDSIZE_LASTOFFSET - 16, (0 - seed) & M64,
    )
    return _final_merge(acc_lo, acc_hi, n, seed)


def _final_merge(acc_lo: int, acc_hi: int, n: int, seed: int) -> tuple[int, int]:
    h_lo = (acc_lo + acc_hi) & M64
    h_hi = (acc_lo * P64_1 + acc_hi * P64_4 + ((n - seed) & M64) * P64_2) & M64
    return _xxh3_avalanche(h_lo), (0 - _xxh3_avalanche(h_hi)) & M64


# --- long input path (> 240 bytes) -----------------------------------------

_STRIPE_LEN = 64
_ACC_NB = 8
_SECRET_CONSUME_RATE = 8
_SECRET_LASTACC_START = 7
_SECRET_MERGEACCS_START = 11


def _custom_secret(seed: int) -> bytes:
    if seed == 0:
        return K_SECRET
    out = bytearray(192)
    for i in range(0, 192, 16):
        lo = (_r64(K_SECRET, i) + seed) & M64
        hi = (_r64(K_SECRET, i + 8) - seed) & M64
        out[i : i + 8] = lo.to_bytes(8, "little")
        out[i + 8 : i + 16] = hi.to_bytes(8, "little")
    return bytes(out)


def _accumulate_512(acc: list[int], d: bytes, doff: int, s: bytes, soff: int) -> None:
    for i in range(_ACC_NB):
        data_val = _r64(d, doff + 8 * i)
        data_key = data_val ^ _r64(s, soff + 8 * i)
        acc[i ^ 1] = (acc[i ^ 1] + data_val) & M64
        acc[i] = (acc[i] + (data_key & M32) * (data_key >> 32)) & M64


def _scramble(acc: list[int], s: bytes, soff: int) -> None:
    for i in range(_ACC_NB):
        a = acc[i]
        a ^= a >> 47
        a ^= _r64(s, soff + 8 * i)
        acc[i] = (a * P32_1) & M64


def _merge_accs(acc: list[int], s: bytes, soff: int, start: int) -> int:
    result = start & M64
    for i in range(4):
        result = (
            result
            + _mul128_fold64(
                acc[2 * i] ^ _r64(s, soff + 16 * i),
                acc[2 * i + 1] ^ _r64(s, soff + 16 * i + 8),
            )
        ) & M64
    return _xxh3_avalanche(result)


def _hash_long(d: bytes, n: int, seed: int) -> tuple[int, int]:
    s = _custom_secret(seed)
    acc = [P32_3, P64_1, P64_2, P64_3, P64_4, P64_5, P32_2, P32_1]
    nb_stripes_per_block = (len(s) - _STRIPE_LEN) // _SECRET_CONSUME_RATE
    block_len = _STRIPE_LEN * nb_stripes_per_block
    nb_blocks = (n - 1) // block_len

    for b in range(nb_blocks):
        for i in range(nb_stripes_per_block):
            _accumulate_512(acc, d, b * block_len + i * _STRIPE_LEN, s, i * _SECRET_CONSUME_RATE)
        _scramble(acc, s, len(s) - _STRIPE_LEN)

    nb_stripes = ((n - 1) - block_len * nb_blocks) // _STRIPE_LEN
    for i in range(nb_stripes):
        _accumulate_512(acc, d, nb_blocks * block_len + i * _STRIPE_LEN, s, i * _SECRET_CONSUME_RATE)
    _accumulate_512(acc, d, n - _STRIPE_LEN, s, len(s) - _STRIPE_LEN - _SECRET_LASTACC_START)

    lo = _merge_accs(acc, s, _SECRET_MERGEACCS_START, (n * P64_1) & M64)
    hi = _merge_accs(
        acc, s, len(s) - _ACC_NB * 8 - _SECRET_MERGEACCS_START, (~(n * P64_2)) & M64
    )
    return lo, hi
