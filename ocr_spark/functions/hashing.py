"""The engine-agnostic 64-bit hash and the sampling thresholds over it.

md5_long is the md5 bridge every oracle-paired hash decision rides on:
DuckDB reproduces it bit for bit, so bucket ids, surrogate doc ids and
sampling decisions agree across engines without a shared hash library.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_long(col):
    """First 8 bytes of md5(col) as a signed int64 — the engine-agnostic
    64-bit hash: DuckDB writes the identical value as
    CAST(('0x'||substr(md5(x),1,16))::UBIGINT AS HUGEINT) - 2^63."""
    # 2^63 exceeds a Java long, so it rides over py4j as a string literal
    return (F.conv(F.substring(F.md5(col), 1, 16), 16, 10)
            .cast("decimal(20,0)")
            - F.lit("9223372036854775808").cast("decimal(20,0)")
            ).cast("long")


def smp_threshold_u64(rate: float) -> int:
    """Keep-rate as an unsigned 64-bit threshold on the md5 bridge: a row
    samples in iff its unsigned md5 fold is below it (subtract 2^63 to
    compare against md5_long's signed value)."""
    return min(int(rate * 2**64), 2**64 - 1)
