"""Compile Spark's ``xxhash64`` into pure DuckDB SQL.

Spark's production dedup tiers (MinHash-LSH, SimHash) hash with
``xxhash64`` — deterministic XXH64 (seed 42, type-tagged byte layouts) —
which no other engine exposes. This module emits DuckDB SQL that
reproduces XXH64 bit-for-bit using HUGEINT arithmetic mod 2^64 (64-bit
multiply via 32-bit limb splitting, rotates as shift-or, xor on
HUGEINT), so the *production* tiers themselves are hash-verified against
the oracle.

Layout parity with ``org.apache.spark.sql.catalyst.expressions.XXH64``
(pinned against Spark itself in tests/test_xxh64_oracle.py via the
pure-Python reference in tools/xxh64_ref.py):

- string column  -> XXH64 over its UTF-8 bytes: 32-byte stripe loop
  (compiled to a recursive CTE; zero iterations for short strings),
  then up to three 8-byte tail rounds, one 4-byte round, up to three
  single-byte rounds, then the avalanche — all little-endian reads,
  expressed as TRY_CAST('0x' || substr(hex(encode(s)), ...)) byte picks.
- long column    -> one 8-byte round (``hashLong``), closed form.
- int column     -> one 4-byte round (``hashInt``), closed form.
- multi-arg      -> chained: each argument's hash seeds the next.

Every step becomes its own nested-subquery level (``SELECT *, expr AS
step FROM (...)``), so each operand is a plain column reference and the
generated SQL grows linearly. Lateral column aliases are deliberately
NOT used: DuckDB resolves them by textual inlining, and a chain of
multiplies (each referencing its operand 3-4x) blows up exponentially —
a 60-step chain hangs the binder. All values flow as UNSIGNED HUGEINTs
in [0, 2^64); ``to_signed``/``to_unsigned`` convert at the Spark-facing
edges (Spark returns signed BIGINT and array_min compares signed).
"""

from __future__ import annotations

MOD = "18446744073709551616"  # 2^64
MASK64 = "18446744073709551615"  # 2^64 - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SEED = 42
_M64 = (1 << 64) - 1


def to_signed(expr: str) -> str:
    """HUGEINT in [0, 2^64) -> the BIGINT Spark would return."""
    return (
        f"CAST(CASE WHEN ({expr}) >= 9223372036854775808 "
        f"THEN ({expr}) - {MOD} ELSE ({expr}) END AS BIGINT)"
    )


def to_unsigned(expr: str) -> str:
    """Signed BIGINT -> HUGEINT in [0, 2^64)."""
    return (
        f"(CASE WHEN ({expr}) < 0 THEN CAST(({expr}) AS HUGEINT) + {MOD} "
        f"ELSE CAST(({expr}) AS HUGEINT) END)"
    )


class Emitter:
    """SSA-style step builder: each op becomes one nested-subquery level
    wrapped around the base relation, so operands are always simple
    column references and the SQL stays linear in the op count."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.steps: list[tuple[str, str]] = []
        self._n = 0

    def add(self, expr: str) -> str:
        name = f"{self.prefix}{self._n}"
        self._n += 1
        self.steps.append((name, expr))
        return name

    def wrap(self, base_sql: str) -> str:
        """Nest one subquery level per step around ``base_sql``."""
        out = base_sql
        for name, expr in self.steps:
            out = f"SELECT *, {expr} AS {name} FROM ({out})"
        return out

    # -- mod-2^64 primitives (operands MUST be simple identifiers/literals)

    def mul(self, a: str, b: str | int) -> str:
        # 64x64 -> low-64 multiply via 32-bit limbs. Bitwise &/>>/<<
        # (NOT %, //): HUGEINT divmod is a 128-bit division loop,
        # measured ~70x slower than the bitwise forms.
        if isinstance(b, int):
            b = str(b)
        return self.add(
            f"(((({a}) & 4294967295)*(({b}) & 4294967295))"
            f" + ((((({a}) >> 32)*(({b}) & 4294967295)"
            f" + (({a}) & 4294967295)*(({b}) >> 32)) & 4294967295) << 32))"
            f" & {MASK64}"
        )

    def addmod(self, a: str, b: str | int) -> str:
        return self.add(f"(({a}) + ({b})) & {MASK64}")

    def rotl(self, a: str, r: int) -> str:
        return self.add(f"((({a}) << {r}) + (({a}) >> {64 - r})) & {MASK64}")

    def xor(self, a: str, b: str) -> str:
        return self.add(f"xor({a}, {b})")

    def xorshift(self, a: str, r: int) -> str:
        return self.add(f"xor({a}, ({a}) >> {r})")

    # -- XXH64 building blocks

    def avalanche(self, h: str) -> str:
        h = self.xorshift(h, 33)
        h = self.mul(h, P2)
        h = self.xorshift(h, 29)
        h = self.mul(h, P3)
        return self.xorshift(h, 32)

    def round64(self, acc: str, k: str) -> str:
        t = self.mul(k, P2)
        t = self.addmod(acc, t)
        t = self.rotl(t, 31)
        return self.mul(t, P1)

    def merge_round(self, h: str, v: str) -> str:
        t = self.mul(v, P2)
        t = self.rotl(t, 31)
        t = self.mul(t, P1)
        h = self.xor(h, t)
        h = self.mul(h, P1)
        return self.addmod(h, P4)

    def tail8(self, h: str, w: str) -> str:
        """One 8-byte tail round; caller guards applicability."""
        k = self.mul(w, P2)
        k = self.rotl(k, 31)
        k = self.mul(k, P1)
        h = self.xor(h, k)
        h = self.rotl(h, 27)
        h = self.mul(h, P1)
        return self.addmod(h, P4)

    def tail4(self, h: str, w: str) -> str:
        k = self.mul(w, P1)
        h = self.xor(h, k)
        h = self.rotl(h, 23)
        h = self.mul(h, P2)
        return self.addmod(h, P3)

    def tail1(self, h: str, b: str) -> str:
        k = self.mul(b, P5)
        h = self.xor(h, k)
        h = self.rotl(h, 11)
        return self.mul(h, P1)

    def hash_long(self, value: str, seed: str | int) -> str:
        """Spark hashLong: XXH64 of one 8-byte word. ``value`` unsigned."""
        h = self.add(f"(({seed}) + {(P5 + 8) & _M64}) & {MASK64}")
        k = self.mul(value, P2)
        k = self.rotl(k, 31)
        k = self.mul(k, P1)
        h = self.xor(h, k)
        h = self.rotl(h, 27)
        h = self.mul(h, P1)
        h = self.addmod(h, P4)
        return self.avalanche(h)

    def hash_int(self, value: str, seed: str | int) -> str:
        """Spark hashInt: XXH64 of one 4-byte word. ``value`` in [0,2^32)."""
        h = self.add(f"(({seed}) + {(P5 + 4) & _M64}) & {MASK64}")
        k = self.mul(value, P1)
        h = self.xor(h, k)
        h = self.rotl(h, 23)
        h = self.mul(h, P2)
        h = self.addmod(h, P3)
        return self.avalanche(h)


def _byte_at(hx: str, pos: str) -> str:
    """Byte (0-255, HUGEINT) at 0-based byte offset ``pos`` of hex
    string ``hx``; 0 past the end. The '0x..' cast only binds for
    BIGINT (not HUGEINT), hence the two-step cast."""
    return (
        f"CAST(COALESCE(TRY_CAST('0x' || substr({hx}, CAST(2*({pos}) AS BIGINT)+1, 2)"
        f" AS BIGINT), 0) AS HUGEINT)"
    )


def _word64(hx: str, pos: str) -> str:
    """Little-endian 8-byte word at byte offset ``pos`` (HUGEINT expr)
    of the hex string ``hx`` (bytes past the length read as 0; only
    used under CASE guards that make them dead)."""
    parts = []
    for j in range(8):
        byte = _byte_at(hx, f"({pos})+{j}")
        parts.append(f"{byte}*{1 << (8 * j)}" if j else byte)
    return "(" + " + ".join(parts) + ")"


def _word32(hx: str, pos: str) -> str:
    parts = []
    for j in range(4):
        byte = _byte_at(hx, f"({pos})+{j}")
        parts.append(f"{byte}*{1 << (8 * j)}" if j else byte)
    return "(" + " + ".join(parts) + ")"


def _byte(hx: str, pos: str) -> str:
    return _byte_at(hx, pos)


def string_hash_ctes(
    name: str, src: str, str_col: str, *, seed: int = SEED, materialized: bool = True
) -> str:
    """CTE block hashing every DISTINCT string of ``src.str_col`` with
    XXH64(utf8, seed). Emits CTEs ``{name}_b .. {name}_h``; the result
    relation is ``{name}_h({str_col}, h)`` with ``h`` unsigned HUGEINT.

    The surrounding statement must be ``WITH RECURSIVE`` (the stripe
    loop is a recursive CTE with zero iterations for strings < 32 B).
    """
    v1 = (seed + P1 + P2) & _M64
    v2 = (seed + P2) & _M64
    v3 = seed & _M64
    v4 = (seed - P1) & _M64
    short_h = (seed + P5) & _M64

    # recursive stripe member: consume 32 bytes, 4 accumulator rounds
    rec = Emitter("r")
    w = [rec.add(_word64("hx", f"pos+{8 * i}")) for i in range(4)]
    vs = [rec.round64(f"v{i + 1}", w[i]) for i in range(4)]

    # post-stripe merge
    mg = Emitter("m")
    h = mg.add(
        "( (((v1 << 1) + (v1 >> 63)) & {K})"
        " + (((v2 << 7) + (v2 >> 57)) & {K})"
        " + (((v3 << 12) + (v3 >> 52)) & {K})"
        " + (((v4 << 18) + (v4 >> 46)) & {K}) ) & {K}".format(K=MASK64)
    )
    for i in range(4):
        h = mg.merge_round(h, f"v{i + 1}")
    merged_h = h

    # tail over the remaining <32 bytes (also the whole string when <32B)
    tl = Emitter("t")
    h = tl.add(f"(h0 + nb) & {MASK64}")
    rem = tl.add("nb - q")
    for i in range(3):
        wname = tl.add(
            f"CASE WHEN {rem} >= {8 * (i + 1)} THEN "
            + _word64("hx", f"q+{8 * i}")
            + " ELSE CAST(0 AS HUGEINT) END"
        )
        hn = tl.tail8(h, wname)
        h = tl.add(f"CASE WHEN {rem} >= {8 * (i + 1)} THEN {hn} ELSE {h} END")
    p4 = tl.add(f"q + ({rem} // 8) * 8")
    rem4 = tl.add(f"nb - {p4}")
    w4 = tl.add(
        f"CASE WHEN {rem4} >= 4 THEN " + _word32("hx", p4) + " ELSE CAST(0 AS HUGEINT) END"
    )
    hn = tl.tail4(h, w4)
    h = tl.add(f"CASE WHEN {rem4} >= 4 THEN {hn} ELSE {h} END")
    p1 = tl.add(f"{p4} + CASE WHEN {rem4} >= 4 THEN 4 ELSE 0 END")
    for j in range(3):
        b = tl.add(
            f"CASE WHEN {p1}+{j} < nb THEN " + _byte("hx", f"{p1}+{j}") + " ELSE CAST(0 AS HUGEINT) END"
        )
        hn = tl.tail1(h, b)
        h = tl.add(f"CASE WHEN {p1}+{j} < nb THEN {hn} ELSE {h} END")
    final = tl.avalanche(h)

    rec_body = rec.wrap(
        f"SELECT {str_col}, hx, nb, pos, v1, v2, v3, v4 "
        f"FROM {name}_stripe WHERE pos + 32 <= nb"
    )
    mg_body = mg.wrap(
        f"SELECT {str_col}, hx, nb, pos, v1, v2, v3, v4 "
        f"FROM {name}_stripe WHERE pos + 32 > nb"
    )
    tl_body = tl.wrap(f"SELECT {str_col}, hx, nb, q, h0 FROM {name}_pre")

    return f"""
{name}_b AS (
    SELECT DISTINCT {str_col} FROM {src} WHERE {str_col} IS NOT NULL
), {name}_x AS (
    SELECT {str_col}, hex(encode({str_col})) AS hx,
           CAST(octet_length(encode({str_col})) AS HUGEINT) AS nb
    FROM {name}_b
), {name}_stripe AS (
    SELECT {str_col}, hx, nb, CAST(0 AS HUGEINT) AS pos,
           CAST({v1} AS HUGEINT) AS v1, CAST({v2} AS HUGEINT) AS v2,
           CAST({v3} AS HUGEINT) AS v3, CAST({v4} AS HUGEINT) AS v4
    FROM {name}_x WHERE nb >= 32
    UNION ALL
    SELECT {str_col}, hx, nb, pos + 32 AS pos2,
           {vs[0]} AS nv1, {vs[1]} AS nv2, {vs[2]} AS nv3, {vs[3]} AS nv4
    FROM ({rec_body}) {name}_rsub
), {name}_longpre AS (
    SELECT {str_col}, hx, nb, pos AS q, {merged_h} AS h0
    FROM ({mg_body}) {name}_msub
), {name}_pre AS (
    SELECT {str_col}, hx, nb, q, h0 FROM {name}_longpre
    UNION ALL
    SELECT {str_col}, hx, nb, CAST(0 AS HUGEINT) AS q,
           CAST({short_h} AS HUGEINT) AS h0
    FROM {name}_x WHERE nb < 32
), {name}_h AS {"MATERIALIZED " if materialized else ""}(
    SELECT {str_col}, {final} AS h
    FROM ({tl_body}) {name}_tsub
)"""


def long_hash_wrap(base_sql: str, value_col: str) -> tuple[str, str]:
    """Wrap ``base_sql`` computing Spark's ``xxhash64(longcol)`` =
    hashLong(value, 42). Returns (sql, result-column). ``value_col``
    unsigned HUGEINT."""
    em = Emitter("g")
    h = em.hash_long(value_col, SEED)
    return em.wrap(base_sql), h


def long_rehash_wrap(base_sql: str, value_col: str, seed_col: str) -> tuple[str, str]:
    """Wrap ``base_sql`` computing Spark's ``xxhash64(longcol, intcol)``
    = hashInt(seed_col, hashLong(value, 42)). Returns (sql, result-col).
    ``value_col`` unsigned HUGEINT; ``seed_col`` int in [0, 2^32)."""
    em = Emitter("q")
    h1 = em.hash_long(value_col, SEED)
    h2 = em.hash_int(seed_col, h1)
    return em.wrap(base_sql), h2


def long_pair_hash_wrap(base_sql: str, a_col: str, b_col: str) -> tuple[str, str]:
    """Wrap ``base_sql`` computing Spark's ``xxhash64(long_a, long_b)``
    = hashLong(b, hashLong(a, 42)). Returns (sql, result-column).
    Both inputs unsigned HUGEINT."""
    em = Emitter("p")
    h1 = em.hash_long(a_col, SEED)
    h2 = em.hash_long(b_col, h1)
    return em.wrap(base_sql), h2
