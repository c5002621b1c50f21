"""Z-order (Morton) interleaved sort keys for multi-dimensional data
skipping — pure JVM-side bit arithmetic, no UDFs.

Why this exists: at 100 TB, scan pruning is the cheapest optimization that
exists — a file never read costs nothing. Parquet min/max footer stats prune
on the SORT prefix only: a table sorted by (user, time) skips nothing for a
time-range predicate. Interleaving the bits of both dimensions into one
Morton key and sorting by THAT bounds every file in BOTH dimensions at once
(each z-range is a small hyper-rectangle), so either predicate prunes.
Delta/Iceberg expose this as OPTIMIZE ZORDER BY; here it is a plain column
expression usable with ``df.repartitionByRange(zorder_key(...)).sortWithinPartitions``
before any parquet write.

Construction: each dimension is scaled to an integer bucket in [0, 2^bits)
from its (min, max) — broadcast scalars, no second scan of the fact — then
the buckets' bits are interleaved with shift/or expressions unrolled at plan
build time (bits is small and fixed; the unrolled expression stays inside
whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scale_to_bucket(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map a numeric column onto integer buckets [0, 2^bits) by linear
    scaling over [lo, hi] (broadcast scalar columns), clamping the top edge
    so ``col == hi`` lands in the last bucket, not past it."""
    n = 1 << bits
    raw = F.floor(
        (col.cast("double") - lo.cast("double"))
        * F.lit(float(n))
        / (hi.cast("double") - lo.cast("double") + F.lit(1e-9))
    ).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))


def interleave_bits(a: Column, b: Column, bits: int) -> Column:
    """Morton key from two ``bits``-wide integer buckets: bit i of ``a``
    lands at position 2i, bit i of ``b`` at 2i+1. Unrolled shift/and/or
    expression tree — identical semantics in any engine with integer
    bitwise ops, which is what makes the DuckDB oracle exact."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(a.bitwiseAND(F.lit(1 << i)), i)
        ).bitwiseOR(F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i + 1))
    return out

