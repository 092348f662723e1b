"""Z-order (Morton) keys for multi-dimension file pruning.

At 100 TB, min/max-stat pruning only helps on the column the data
happens to be sorted by. Interleaving the bits of two filter columns
into one Morton key and range-partitioning + sorting by it gives every
output file a small bounding BOX in (x, y) space, so parquet row-group
/ Iceberg file stats prune on BOTH predicates at once — the layout
trick Delta/Iceberg OPTIMIZE ZORDER applies.

The z-value itself is flat codegen bit arithmetic (shift/mask/add over
disjoint bit positions — no higher-order functions, no UDF), and is
deterministic, so the key is reproducible across runs and engines
(the ``zorder_events`` query checks it against its DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def zvalue(x: F.Column, y: F.Column, bits: int = 16) -> F.Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    int columns: result bit 2i is x's bit i, bit 2i+1 is y's bit i.
    Callers clamp/shift their domain into [0, 2^bits) first (pmod for
    ids, fixed-width binning for continuous values) — the helper doesn't
    guess a normalization."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return acc

