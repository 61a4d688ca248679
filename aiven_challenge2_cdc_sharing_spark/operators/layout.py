"""Z-order (Morton-curve) values for multi-column data skipping.

Parquet readers prune files/row-groups by min-max statistics.  A table
sorted linearly by one column gives perfect pruning on that column and
none on any other; interleaving the bits of two key columns and
ordering by the interleaved value keeps every file's bounding box small
in BOTH dimensions — the layout trick Delta/Iceberg expose as OPTIMIZE
ZORDER BY.  The registry's layout queries compute this value.

The z-value is a pure literal-shift expression (one codegen'd column,
no UDF), so it is also exactly recomputable by the DuckDB oracle;
``bits`` caps the curve resolution (16 bits/dim => 4G cells).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton z-value: bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1.  Inputs are masked to ``bits`` low bits; every shift
    amount is a Python literal so the whole value is one JVM-side
    codegen'd expression."""
    a = a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z
