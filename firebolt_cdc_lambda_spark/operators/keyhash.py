"""Spark's key bucket, ``pmod(xxhash64(k1, ..., kn), nb)``, on the driver.

A pure-Python port of Spark's ``XxHash64`` (``hashInt``, ``hashLong``
and ``hashUnsafeBytes`` over UTF-8) with the ``xxhash64`` expression's
seed 42, chained through the key columns: each non-null column's hash
seeds the next, and a null column leaves the seed unchanged.  It
covers the integral and string key types; ``HASHABLE`` names them, and
any other type has to be hashed by Spark itself.

``isin_sql`` renders the matching filter for the same key types as one
SQL ``IN`` predicate, parsed once on the JVM.  Building it from one
``Column`` literal per key costs gateway round trips per key: 16 s for
5,000 keys on a 4-core box.
"""

from __future__ import annotations

import struct
from collections.abc import Sequence

from pyspark.sql import types as T

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SEED = 42

#: key types hashed here: byte, short and int go through ``hashInt``
HASHABLE = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.StringType)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * P2) & _M, 31) * P1 & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * P1 + P4) & _M


def _fmix(h: int) -> int:
    h = (h ^ (h >> 33)) * P2 & _M
    h = (h ^ (h >> 29)) * P3 & _M
    return h ^ (h >> 32)


def _int_step(h: int, word: int) -> int:
    return (_rotl(h ^ (word * P1 & _M), 23) * P2 + P3) & _M


def _long_step(h: int, word: int) -> int:
    return (_rotl(h ^ _round(0, word), 27) * P1 + P4) & _M


def hash_int(v: int, seed: int) -> int:
    return _fmix(_int_step((seed + P5 + 4) & _M, v & 0xFFFFFFFF))


def hash_long(v: int, seed: int) -> int:
    return _fmix(_long_step((seed + P5 + 8) & _M, v & _M))


def hash_bytes(b: bytes, seed: int) -> int:
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + P1 + P2) & _M, (seed + P2) & _M, seed, (seed - P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", b, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = _long_step(h, struct.unpack_from("<Q", b, i)[0])
        i += 8
    if i + 4 <= n:
        h = _int_step(h, struct.unpack_from("<I", b, i)[0])
        i += 4
    for c in b[i:]:
        h = _rotl(h ^ (c * P5 & _M), 11) * P1 & _M
    return _fmix(h)


def xxhash64(values: Sequence, types: Sequence[T.DataType]) -> int:
    """Spark's ``xxhash64(values...)`` as a signed 64-bit int."""
    h = SEED
    for v, t in zip(values, types):
        if v is None:
            continue
        if isinstance(t, T.LongType):
            h = hash_long(v, h)
        elif isinstance(t, T.StringType):
            h = hash_bytes(v.encode("utf-8"), h)
        else:
            h = hash_int(v, h)
    return h - (1 << 64) if h >> 63 else h


def bucket(values: Sequence, types: Sequence[T.DataType], nb: int) -> int:
    """``pmod(xxhash64(values...), nb)``: the key's bucket id."""
    return xxhash64(values, types) % nb


def hashable(types: Sequence[T.DataType]) -> bool:
    """True iff every key type is hashed here.  A string type must
    compare by bytes: a collated string hashes by its collation key."""
    return all(isinstance(t, HASHABLE)
               and getattr(t, "collation", "UTF8_BINARY") == "UTF8_BINARY"
               for t in types)


def _sql_literal(v, t: T.DataType) -> str:
    # the bytes of a string as a hex literal: no quoting or escaping
    # rule (nor the parser conf that changes them) can alter the value
    if isinstance(t, T.StringType):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return f"CAST('{int(v)}' AS {t.simpleString()})"


def isin_sql(cols: Sequence[str], types: Sequence[T.DataType],
             rows) -> str:
    """A SQL predicate true exactly for the rows whose ``cols`` equal
    one of the null-free tuples ``rows`` (a struct ``IN`` for several
    columns).  Types must be ``hashable``."""
    if not rows:
        return "false"
    names = ", ".join("`" + c.replace("`", "``") + "`" for c in cols)
    tuples = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, t in zip(r, types)) + ")"
        for r in rows)
    return f"({names}) IN ({tuples})"
