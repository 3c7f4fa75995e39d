"""Z-order (Morton) clustering keys for multi-dimensional data layout.

Why this exists at 100 TB: sorting a lake by one column gives perfect
file skipping on that column and none on any other. Interleaving the
bits of two (or more) key columns into one sort key gives every
interleaved dimension *partial* locality — each parquet file covers a
small rectangle of the key space, so min/max row-group stats prune
scans filtered on EITHER dimension (the technique behind Delta/Iceberg
OPTIMIZE ZORDER; public algorithm, Morton 1966).

The key is pure integer bit math (shift/and/or), so the same
expression runs codegen'd in Spark and replays exactly in the DuckDB
oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """`zorder_key_n([x, y], bits)` as a SQL expression (DuckDB oracle)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


def zorder_key_n(cols: "list[Column | str]", bits: int = 16) -> Column:
    """Morton interleave of the low `bits` bits of n >= 2 non-negative
    integer columns: bit i of column j lands at position i*n + j (for
    two columns, x at 2i and y at 2i+1). n*bits must stay <= 62, clear
    of the sign bit, or negative keys wreck the range layout; 2 x 16
    bits rank 65k x 65k cells, 3 x 16 or 4 x 12 are typical lake
    layouts. Values are masked to `bits` bits SILENTLY: keys above
    2^bits alias to the same cell and locality degrades, so callers
    must size `bits` to the key domain (or pre-bucket)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key_n needs >= 2 columns")
    if bits < 1 or n * bits > 62:
        raise ValueError(
            f"{n} cols x {bits} bits: need bits >= 1 and at most 62 interleaved bits"
        )
    cs = [(F.col(c) if isinstance(c, str) else c).cast("long") for c in cols]
    parts = []
    for i in range(bits):
        for j, c in enumerate(cs):
            parts.append(F.shiftleft(F.shiftrightunsigned(c, i).bitwiseAND(F.lit(1)), i * n + j))
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Materialize `df` clustered by z-order over (x, y): range-
    partition on the interleaved key (disjoint key ranges per file,
    no global sort) and sort within each partition, so every file's
    (x, y) min/max stats cover a compact rectangle and scans filtered
    on either column skip most files."""
    keyed = df.withColumn("_zkey", zorder_key_n([x, y], bits))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
