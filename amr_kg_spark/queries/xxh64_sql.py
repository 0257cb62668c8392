"""Spark-compatible xxhash64 as pure DuckDB SQL — the bridge that lets
hash-dependent operators (sequence packing's bin assignment, deterministic
stratified sampling's keep-predicate) carry FULL value oracles in the
driver's DuckDB gate instead of the weaker rows-only check.

Spark's ``F.xxhash64`` is the reference XXH64 with seed 42, applied to the
column values' byte encodings and chained left-to-right across arguments
(each value's hash becomes the seed for the next). For a LongType column
that is one 8-byte-lane round; for an IntegerType literal one 4-byte
round. Both rounds are a fixed short sequence of 64-bit wrapping
multiplies/rotates/xors — expressible in DuckDB by staging each step as a
column (linear SQL growth) with UHUGEINT intermediates for the mod-2^64
arithmetic (DuckDB raises on BIGINT overflow rather than wrapping).

Verified bit-exact against ``F.xxhash64`` for long and (long, int-lit)
argument shapes in tests/test_textprep.py (and transitively by the
driver's dp_textprep hash compare at sf0.01).
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

_U64_MOD = "CAST('18446744073709551616' AS UHUGEINT)"


def _mod64(x: str) -> str:
    return f"CAST(({x}) % {_U64_MOD} AS UBIGINT)"


def _mul(a: str, b: int) -> str:
    return _mod64(f"CAST({a} AS UHUGEINT) * CAST('{b}' AS UHUGEINT)")


def _add(a: str, b: int) -> str:
    return _mod64(f"CAST({a} AS UHUGEINT) + CAST('{b}' AS UHUGEINT)")


def _rotl(x: str, r: int) -> str:
    # (x << r) | (x >> 64-r): the halves are bit-disjoint, so + == |
    return _mod64(
        f"CAST({x} AS UHUGEINT) * CAST('{1 << r}' AS UHUGEINT)"
        f" + CAST(({x}) >> {64 - r} AS UHUGEINT)"
    )


def _xor_shift(x: str, r: int) -> str:
    return f"xor({x}, ({x}) >> {r})"


def _fmix_steps(h: str, out: str) -> list[tuple[str, str]]:
    return [
        (f"{out}_f1", _xor_shift(h, 33)),
        (f"{out}_f2", _mul(f"{out}_f1", _P2)),
        (f"{out}_f3", _xor_shift(f"{out}_f2", 29)),
        (f"{out}_f4", _mul(f"{out}_f3", _P3)),
        (out, _xor_shift(f"{out}_f4", 32)),
    ]


def xxh64_long_steps(k: str, seed: str, out: str) -> list[tuple[str, str]]:
    """Staged columns computing unsigned XXH64 of one 8-byte lane ``k``
    (a UBIGINT expression) under ``seed`` (a UBIGINT expression) into
    column ``out``. Earlier entries may be referenced by later ones, so
    apply them as a nested SELECT chain via :func:`stage`."""
    return [
        (f"{out}_a1", _mod64(f"CAST({seed} AS UHUGEINT) + CAST('{(_P5 + 8) & _M64}' AS UHUGEINT)")),
        (f"{out}_t1", _mul(k, _P2)),
        (f"{out}_t2", _rotl(f"{out}_t1", 31)),
        (f"{out}_k1", _mul(f"{out}_t2", _P1)),
        (f"{out}_a2", f"xor({out}_a1, {out}_k1)"),
        (f"{out}_r1", _rotl(f"{out}_a2", 27)),
        (f"{out}_a3", _add(_mul(f"{out}_r1", _P1), _P4)),
        *_fmix_steps(f"{out}_a3", out),
    ]


def xxh64_int_const_steps(v: int, seed: str, out: str) -> list[tuple[str, str]]:
    """Staged columns for the 4-byte-lane round with a CONSTANT int value
    ``v`` (Spark hashes an IntegerType literal argument this way) under a
    varying ``seed`` column."""
    vk1 = ((v & 0xFFFFFFFF) * _P1) & _M64
    return [
        (f"{out}_a1", _mod64(f"CAST({seed} AS UHUGEINT) + CAST('{(_P5 + 4) & _M64}' AS UHUGEINT)")),
        (f"{out}_a2", f"xor({out}_a1, CAST('{vk1}' AS UBIGINT))"),
        (f"{out}_r1", _rotl(f"{out}_a2", 23)),
        (f"{out}_a3", _add(_mul(f"{out}_r1", _P2), _P3)),
        *_fmix_steps(f"{out}_a3", out),
    ]


def signed64(u: str) -> str:
    """Reinterpret an unsigned UBIGINT column as Spark's signed long."""
    return (
        f"CAST(CAST({u} AS HUGEINT) - CASE WHEN {u} >= CAST('9223372036854775808' AS UBIGINT)"
        f" THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT)"
    )


def pmod(x: str, m: int) -> str:
    """Spark F.pmod for a signed BIGINT expression and positive modulus."""
    return f"((({x}) % {m}) + {m}) % {m}"


def stage(src: str, steps: list[tuple[str, str]]) -> str:
    """Wrap ``src`` (a SELECT) in one nested SELECT per step, adding each
    column in order — linear SQL size, each step may use prior columns."""
    sql = src
    for name, expr in steps:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


def _as_u64(col: str) -> str:
    """Reinterpret a signed BIGINT column's two's-complement bytes as u64
    (what the long lane hashes)."""
    return (
        f"CAST(CAST({col} AS HUGEINT) + CASE WHEN {col} < 0"
        f" THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS UBIGINT)"
    )


def spark_xxhash64_long_sql(src: str, col: str, out: str) -> str:
    """``F.xxhash64(longcol)`` (seed 42) as a staged DuckDB query over
    ``src``; result (signed, Spark-identical) in column ``out``."""
    steps = xxh64_long_steps(_as_u64(col), "CAST(42 AS UBIGINT)", f"{out}_u")
    steps.append((out, signed64(f"{out}_u")))
    return stage(src, steps)


def spark_xxhash64_long_int_sql(src: str, col: str, int_lit: int, out: str) -> str:
    """``F.xxhash64(longcol, F.lit(i))`` — the long lane then the 4-byte
    int-literal lane chained on its result — as a staged DuckDB query."""
    steps = xxh64_long_steps(_as_u64(col), "CAST(42 AS UBIGINT)", f"{out}_h1")
    steps += xxh64_int_const_steps(int_lit, f"{out}_h1", f"{out}_u")
    steps.append((out, signed64(f"{out}_u")))
    return stage(src, steps)
