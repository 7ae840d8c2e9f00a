"""Z-order clustering key: multi-column data skipping.

A sort layout prunes scans on the leading sort column only; interleaving
the bits of several columns (Morton / Z-order curve) gives every written
file a tight min/max envelope on ALL clustered columns, so parquet
footer stats prune scans filtered on any of them. This is the standard
lakehouse move for 100 TB fact tables queried along more than one
dimension (the reference's MapFile/BloomMapFile answer point lookups on
the one sorted key only — SURVEY.md §1.3).

Shape: the min/max bounds per column are a bounded driver pre-pass (two
scalars per column, like the total-order sort's boundary sample); the
z-value is a pure codegen expression over those literal bounds, which
``snapshots.optimize(zorder_by=...)`` range-partitions and sorts on — one
range shuffle, the same cost as a plain sorted write.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZBITS = 16  # rank-space bits per column; 2 cols × 16 bits = 32-bit z-values


def _zvalue_expr(cols: list[str], bounds: dict[str, tuple[float, float]], bits: int) -> Column:
    """Bit-interleaved z-value: each column linearly scaled to [0, 2^bits)
    over its literal [min, max] bounds, then bit b of column i lands at
    position b*ncols + i."""
    n = len(cols)
    terms = []
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        scaled = (
            f"CAST(least(CAST({(1 << bits) - 1} AS DOUBLE), "
            f"greatest(0.0D, (CAST({c} AS DOUBLE) - {lo!r}) * {(1 << bits) / span!r})) AS BIGINT)"
        )
        for b in range(bits):
            terms.append(f"shiftleft(shiftright({scaled}, {b}) & 1, {b * n + i})")
    return F.expr(" + ".join(terms))
