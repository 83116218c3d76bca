"""Z-order (Morton) clustering keys — the data-layout operator.

At 100 TB the difference between a table that prunes and one that
scans is the physical sort order: Delta/Iceberg's ``OPTIMIZE ZORDER
BY (a, b)`` rewrites files so ranges of BOTH columns map to contiguous
key ranges, letting min/max file statistics prune two-dimensional
predicates.  The kernel of that operation is computing the interleaved
Morton key; this operator emits it (plus a file/bucket assignment) so
callers can range-partition on ``zkey`` before writing.

Bit interleaving uses the classic magic-mask spread (each step doubles
the gap between significant bits) — five shift-and-mask steps per
dimension, pure BIGINT ops with identical semantics in Spark and
DuckDB, so the oracle reproduces every key bit-for-bit.  Inputs are
masked to 31 bits (callers bucket or epoch-day their columns first;
the mask keeps all intermediates positive in signed 64-bit).

Scale shape: scan-speed column expressions, no shuffle, no UDF — at
100 TB this costs exactly one read of the two key columns; the
optional ``n_buckets`` column is one shift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread(x: Column) -> Column:
    """Spread a 31-bit value's bits to the even positions of a 62-bit
    value (bit i -> bit 2i)."""
    x = x.bitwiseAND(F.lit((1 << 31) - 1))
    for shift, mask in _MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(a: Column, b: Column) -> Column:
    """62-bit Morton interleave of two 31-bit-masked BIGINT columns
    (``a`` gets the even bits, ``b`` the odd bits)."""
    return _spread(a.cast("long")).bitwiseOR(
        F.shiftleft(_spread(b.cast("long")), 1)
    )


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_col: str,
    bucket_bits: int = 8,
) -> DataFrame:
    """(id_col, zkey, bucket): the Morton key of ``(col_a, col_b)``
    and its top-``bucket_bits`` bucket — the file assignment a ZORDER
    rewrite would use (range partitioning on ``zkey`` gives the
    same contiguity without materializing buckets)."""
    if not 1 <= bucket_bits <= 62:
        raise ValueError(
            "bucket_bits must be in [1, 62]: a larger value makes the "
            "shift negative and Java masks shifts mod 64, silently "
            "collapsing every row into bucket 0"
        )
    z = zorder_key(F.col(col_a), F.col(col_b))
    return df.select(
        id_col,
        z.alias("zkey"),
        F.shiftrightunsigned(z, 62 - bucket_bits).cast("int").alias("bucket"),
    )
