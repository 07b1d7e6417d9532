"""Hashing helpers.

``portable_hash64`` is an md5-derived 60-bit hash expressible identically in
Spark and DuckDB (both expose ``md5(text) -> hex``), used wherever a hash
must be oracle-checkable: MinHash, SimHash and the rolling fingerprint all
hash with it.

``java_string_hashcode`` reproduces ``java.lang.String.hashCode`` as a
column expression — the reference keys Kafka partitions on
``abs(key.hashCode() % partitionCount)`` (reference
``02-producer/src/main/java/com/exam/worker/AvroProducer.java:82``), and
this gives byte-identical partition placement when parity is wanted.
``abs`` is taken of the remainder, never of the hash code itself, so
Integer.MIN_VALUE needs no special case.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative BIGINT (60 bits).

    DuckDB equivalent::

        CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def java_string_hashcode(col: Column | str) -> Column:
    """``s.hashCode()`` = sum(s[i] * 31^(n-1-i)) over UTF-16 code units,
    wrapped to 32-bit signed — implemented with aggregate over the code
    points, all JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    # split(s, "") yields one element per code point and ascii() gives its
    # code point. A code point above U+FFFF is two UTF-16 code units: it
    # adds its high surrogate, then its low surrogate.
    code_points = F.transform(F.split(c, ""), F.ascii)

    def step(h: Column, cp: Column) -> Column:
        off = cp - 0x10000
        pair = (h * 31 + F.shiftright(off, 10) + 0xD800) * 31 + off.bitwiseAND(0x3FF) + 0xDC00
        # 32-bit wrap: keep the accumulator in long and mask back to int range
        return F.when(cp > 0xFFFF, pair).otherwise(h * 31 + cp).bitwiseAND(0xFFFFFFFF)

    acc = F.aggregate(code_points, F.lit(0).cast("long"), step)
    # reinterpret the low 32 bits as signed int
    return F.when(acc > 0x7FFFFFFF, (acc - 0x100000000).cast("int")).otherwise(
        acc.cast("int")
    )


def partition_for_key(col: Column | str, n_partitions: int) -> Column:
    """The reference's placement ``abs(key.hashCode() % n)``. Spark's ``%``
    keeps the dividend's sign as Java's does; ``pmod`` would swap
    partitions for negative hash codes that ``n`` does not divide."""
    return F.abs(java_string_hashcode(col) % F.lit(n_partitions))
