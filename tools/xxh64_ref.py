"""Pure-Python reference of Spark's ``xxhash64`` expression.

Spark evaluates ``xxhash64(c1, c2, ...)`` by chaining: ``hash = 42``;
for each argument ``hash = XXH64(arg_bytes, seed=hash)`` with a
type-specific byte layout (long -> 8-byte little-endian, int -> 4-byte,
string -> UTF-8 bytes). This module mirrors
``org.apache.spark.sql.catalyst.expressions.XXH64`` (standard XXH64) so
the SQL compiler in ``queries/xxh64_sql.py`` can be tested against it, and
it against Spark itself (tests/test_xxh64_oracle.py).
"""

from __future__ import annotations

MASK = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK


def _round(acc: int, k: int) -> int:
    acc = (acc + k * P2) & MASK
    acc = _rotl(acc, 31)
    return (acc * P1) & MASK


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * P1 + P4) & MASK


def _avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & MASK
    h ^= h >> 29
    h = (h * P3) & MASK
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 over a byte string (unsigned 64-bit result)."""
    seed &= MASK
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & MASK
        v2 = (seed + P2) & MASK
        v3 = seed
        v4 = (seed - P1) & MASK
        while pos + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[pos : pos + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[pos + 8 : pos + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[pos + 16 : pos + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[pos + 24 : pos + 32], "little"))
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & MASK
    h = (h + n) & MASK
    while pos + 8 <= n:
        k1 = _round(0, int.from_bytes(data[pos : pos + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * P1 + P4) & MASK
        pos += 8
    if pos + 4 <= n:
        k = int.from_bytes(data[pos : pos + 4], "little")
        h ^= (k * P1) & MASK
        h = (_rotl(h, 23) * P2 + P3) & MASK
        pos += 4
    while pos < n:
        h ^= (data[pos] * P5) & MASK
        h = (_rotl(h, 11) * P1) & MASK
        pos += 1
    return _avalanche(h)


def xxh64_long(value: int, seed: int) -> int:
    """XXH64 of one 8-byte little-endian long (Spark's hashLong)."""
    seed &= MASK
    h = (seed + P5 + 8) & MASK
    k1 = _round(0, value & MASK)
    h ^= k1
    h = (_rotl(h, 27) * P1 + P4) & MASK
    return _avalanche(h)


def xxh64_int(value: int, seed: int) -> int:
    """XXH64 of one 4-byte little-endian int (Spark's hashInt)."""
    seed &= MASK
    h = (seed + P5 + 4) & MASK
    h ^= ((value & 0xFFFFFFFF) * P1) & MASK
    h = (_rotl(h, 23) * P2 + P3) & MASK
    return _avalanche(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _to_unsigned(s: int) -> int:
    return s & MASK


def spark_xxhash64(*args) -> int:
    """Spark's ``xxhash64(*args)``: chained type-dispatched XXH64 from
    seed 42; returns the SIGNED 64-bit value Spark returns.

    ``str`` -> UTF-8 bytes path; ``("long", v)`` / plain int -> 8-byte
    path; ``("int", v)`` -> 4-byte path.
    """
    h = SPARK_SEED
    for a in args:
        if isinstance(a, str):
            h = xxh64_bytes(a.encode("utf-8"), h)
        elif isinstance(a, tuple) and a[0] == "int":
            h = xxh64_int(_to_unsigned(a[1]), h)
        elif isinstance(a, tuple) and a[0] == "long":
            h = xxh64_long(_to_unsigned(a[1]), h)
        elif isinstance(a, int):
            h = xxh64_long(_to_unsigned(a), h)
        else:
            raise TypeError(f"unsupported arg {a!r}")
    return _to_signed(h)
