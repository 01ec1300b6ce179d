"""Grid candidate generation shared by the spatial operators.

Every grid-banded join in the engine makes the same move: bin both sides
on a grid, replicate one side over the cells a match can fall in,
equi-join on the cell, then refine exactly.  This module holds that
move's pieces; each operator keeps its own binning policy (cell width,
integer or float bins) and its own exact refine.  The helpers take bin
columns, not coordinates.

  bin_floor           exact floor-division bin of a long column
  explode_neighbours  the probe side over its (2·reach+1)^d cell box; the
                      build side keeps its one true cell, so every pair is
                      generated exactly once and no dedup exchange exists
  box_cell_count      overflow-safe cell count of a bin box, for the
                      fan-out envelope checks
  explode_box         one row per cell of a bin box
  fence_cells         circular fences over the cells of width max-radius
                      their bounding box covers (geofence join build side)
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import product

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .envelope import require

# wide enough for the difference of any two longs, plus one
_SPAN = "decimal(21,0)"


def bin_floor(c: Column, w: int | Column) -> Column:
    """floor(c / w) for a long column c and a positive width w, exact
    for every long c: integral division truncates toward zero, so a
    negative remainder steps the quotient down one.  No term leaves the
    long range (|c div w| <= |c|), so it cannot overflow under ANSI."""
    wl = w if isinstance(w, Column) else F.lit(w)
    return (F.call_function("div", c, wl)
            - F.when(c % wl < 0, 1).otherwise(0))


def explode_neighbours(df: DataFrame, cols: Sequence[str | Column],
                       bins: Sequence[Column], names: Sequence[str],
                       reach: int = 1, centre: bool = True) -> DataFrame:
    """df.select(*cols) with one row per cell of the (2·reach+1)^d box
    around the cell `bins` (one bin column per axis), the cell's bins
    appended as `names`.  centre=False leaves out the cell itself (the
    annulus).  This is the probe side of a grid join: the build side
    keeps its one true cell, so a pair whose cells differ by at most
    `reach` on every axis meets exactly once."""
    offs = [o for o in product(range(-reach, reach + 1), repeat=len(bins))
            if centre or any(o)]
    if len(bins) == 1:
        return df.select(*cols, F.explode(F.array(
            *[bins[0] + o[0] for o in offs])).alias(names[0]))
    out = df.select(*cols, F.explode(F.array(*[
        F.struct(*[(b + i).alias(n) for b, i, n in zip(bins, o, names)])
        for o in offs])).alias("_nbr"))
    return out.select(*out.columns[:-1],
                      *[F.col(f"_nbr.{n}").alias(n) for n in names])


def box_cell_count(lo: Sequence[Column], hi: Sequence[Column],
                   limit: int) -> Column:
    """Cells in the inclusive bin box lo..hi (one bin column per axis),
    capped at limit + 1, without long overflow on any input: each axis
    span is taken in decimal and clamped to [0, limit + 1] before the
    spans multiply.  The count is exact up to `limit`, limit + 1 for
    any larger box, and 0 for a box inverted on some axis."""
    cap = F.lit(int(limit) + 1)
    n = F.lit(1).cast(_SPAN)
    for lo_c, hi_c in zip(lo, hi):
        span = hi_c.cast(_SPAN) - lo_c.cast(_SPAN) + 1
        n = F.least(n * F.least(F.greatest(span, F.lit(0)), cap), cap)
    return n.cast("long")


def explode_box(df: DataFrame, names: Sequence[str],
                lo: Sequence[Column], hi: Sequence[Column]) -> DataFrame:
    """One row per cell of the inclusive bin box lo..hi, the cell's bins
    in `names`.  Bound the box with box_cell_count first."""
    for n, lo_c, hi_c in zip(names, lo, hi):
        df = df.withColumn(n, F.explode(F.sequence(lo_c, hi_c)))
    return df


def fence_cells(fences: DataFrame, fence_id: str, cx_col: str, cy_col: str,
                r_col: str, op: str) -> tuple[DataFrame, int]:
    """Circular fences as (_fid, _cx, _cy, _r, _gx, _gy) rows, one per
    grid cell of width C = max radius that a fence's bounding box covers
    (2r <= 2C spans at most 3 cells per axis), and C itself: the build
    side of a point-in-fence join on the point's single true cell
    (bin_floor(x, C), bin_floor(y, C)).  Radii must be in [1, 2^29] so
    the exact dist² <= r² refine stays a provable int64; `op` prefixes
    the error messages."""
    fr = fences.select(F.col(fence_id).alias("_fid"),
                       F.col(cx_col).cast("long").alias("_cx"),
                       F.col(cy_col).cast("long").alias("_cy"),
                       F.col(r_col).cast("long").alias("_r"))
    rmsg = (f"{op}: fence radii must be in [1, 2^29] so dist² stays a "
            f"provable int64")
    _, _, cw = require(fr, (F.count("_r"), lambda n: n == 0,
                            f"{op}: fences is empty"),
                       (F.min("_r"), lambda lo: lo < 1, rmsg),
                       (F.max("_r"), lambda hi: hi > (1 << 29), rmsg))
    cx, cy, r = F.col("_cx"), F.col("_cy"), F.col("_r")
    cells = explode_box(fr, ("_gx", "_gy"),
                        (bin_floor(cx - r, cw), bin_floor(cy - r, cw)),
                        (bin_floor(cx + r, cw), bin_floor(cy + r, cw)))
    return cells, cw
