"""[EXT] Multi-dimension data layout: Z-order (Morton curve)
clustering for file/row-group skipping.

At 100 TB the scan is the query cost, and min/max footer stats are
the only thing standing between a point probe and a full scan. A
layout sorted on ONE column prunes filters on that column and nothing
else; interleaving the bits of two filter dimensions into a Morton
key gives every file a small bounding BOX in (x, y) space, so filters
on EITHER dimension (or both) skip files from the same single sort
order. This is the public curve behind Delta/Iceberg ``OPTIMIZE
ZORDER BY`` — implemented here with plain DataFrame ops:
repartitionByRange(zval) + sortWithinPartitions(zval) + parquet.

The curve math itself is the oracle-matched registry query
``x26_zorder_curve`` (queries_ext18.py — DuckDB computes the
identical bit arithmetic); the pruning WIN is measured on real
parquet footer stats in tests/test_layout.py, not asserted by
hand-waving.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 16


def morton_code(x: Column, y: Column, bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` of x (even positions) and y (odd
    positions) into one long. Pure shift/mask — whole-stage codegen,
    no UDF."""
    mask = (1 << bits) - 1
    xm = x.bitwiseAND(F.lit(mask))
    ym = y.bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_write(
    df: DataFrame,
    x_col: str,
    y_col: str,
    path: str,
    n_files: int = 8,
    bits: int = ZORDER_BITS,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered along the
    (x, y) Morton curve.

    repartitionByRange on the curve key gives each output file a
    contiguous curve segment (range exchange uses sampled bounds — no
    driver-side sort); sortWithinPartitions tightens row-group stats
    inside each file. The helper key is dropped before writing so the
    on-disk schema is the caller's. At cluster scale n_files maps to
    the target file-size policy (e.g. total_bytes / 512 MB), and the
    same two lines run unchanged.
    """
    keyed = df.withColumn("_sds_z", morton_code(F.col(x_col), F.col(y_col), bits))
    (
        keyed.repartitionByRange(n_files, "_sds_z")
        .sortWithinPartitions("_sds_z")
        .drop("_sds_z")
        .write.mode("overwrite")
        .parquet(path)
    )
