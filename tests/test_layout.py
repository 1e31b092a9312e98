"""Z-order layout: the pruning win must be measurable on real parquet
footer stats, not asserted rhetorically. A 2-D box probe against the
curve-clustered layout must skip files that a 1-D sorted layout
cannot."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_spark.operators.layout import morton_code, zorder_write
from streaming_data_spark.schemas import load_table

N_FILES = 8
BOX = dict(x_col="l_partkey", x_lo=1, x_hi=40, y_col="l_suppkey", y_lo=1, y_hi=3)


def files_matching_box(
    path: str,
    x_col: str,
    x_lo: int,
    x_hi: int,
    y_col: str,
    y_lo: int,
    y_hi: int,
) -> tuple[int, int]:
    """(files that COULD contain rows in the box, total files), judged
    purely by parquet footer min/max stats — i.e. exactly what a
    stats-based scan planner can skip without reading data pages.
    Reads only footers, not data pages."""
    import os

    import pyarrow.parquet as pq

    parts = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    hit = 0
    for f in parts:
        md = pq.ParquetFile(f).metadata
        overlaps = False
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            stats = {}
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name in (x_col, y_col) and col.statistics is not None:
                    stats[name] = (col.statistics.min, col.statistics.max)
            if x_col in stats and y_col in stats:
                (xmn, xmx), (ymn, ymx) = stats[x_col], stats[y_col]
                if xmn <= x_hi and xmx >= x_lo and ymn <= y_hi and ymx >= y_lo:
                    overlaps = True
                    break
            else:  # missing stats: cannot skip
                overlaps = True
                break
        hit += int(overlaps)
    return hit, len(parts)


def test_zorder_layout_prunes_2d_box_better_than_1d_sort(spark, sf_oracle, tmp_path):
    li = load_table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    xpath = str(tmp_path / "xsort")
    zorder_write(li, "l_partkey", "l_suppkey", zpath, n_files=N_FILES)
    # 1-D baseline: same file count, sorted on x only
    (
        li.repartitionByRange(N_FILES, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(xpath)
    )
    z_hit, z_total = files_matching_box(zpath, **BOX)
    x_hit, x_total = files_matching_box(xpath, **BOX)
    assert z_total == x_total == N_FILES
    # the x-sorted layout prunes the x-range but is blind to y; the
    # curve layout must touch at most as many files AND actually skip
    assert z_hit <= x_hit, (z_hit, x_hit)
    assert z_hit < N_FILES, "curve layout skipped nothing"


def test_zorder_write_preserves_rows_and_schema(spark, sf_oracle, tmp_path):
    li = load_table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "z2")
    zorder_write(li, "l_partkey", "l_suppkey", path, n_files=4)
    back = spark.read.parquet(path)
    assert back.columns == li.columns  # helper key dropped
    assert back.count() == li.count()
    assert back.exceptAll(li).isEmpty()


def test_morton_code_locality_property(spark):
    """Rows close in (x, y) share curve-key prefixes: quadrant bits
    are the TOP bits, so the curve sorts the plane by nested
    quadrants. Check the defining recursive property directly: the
    top two interleaved bits are (y_hi, x_hi) of the half-range
    split."""
    bits = 4
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, ["x", "y"]).withColumn(
        "z", morton_code(F.col("x"), F.col("y"), bits)
    )
    for r in df.collect():
        want_top = ((r["y"] >> 3) << 1) | (r["x"] >> 3)
        assert (r["z"] >> (2 * bits - 2)) == want_top, r
