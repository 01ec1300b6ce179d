"""Raster<->vector KDE tiling + point-in-polygon join + skew utilities.

SURVEY.md §2.8 (graft-mandated tiling), §2.3 J4 (PIP join), §4.2 (hot-cell
salting).  This is the GLOBAL (cross-host) twin of the per-host KDE kernel:

  raster:  cell_density    groupBy(cell).sum(mass)        — 1 shuffle
           kring_smooth    Gaussian ring-stencil join      — 1 shuffle
           rollup_pyramid  one (level, ancestor cell) key per level per
                           base cell, one groupBy(level, cell) — native
                           bit math, 1 shuffle for the whole pyramid
  vector:  extract_components  threshold + ring-1 edges, connected
                               components via ops.min_label_components
  J4:      pip_join        two-phase: equi-join on exploded polygon cell
                           cover (cheap prefilter) then exact vectorized
                           ray-casting refine per polygon group.

All cell ops are level-tagged int64 ids from engine.geo; parent is a native
column expression (no UDF), so pyramid rollups stay in whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geo
from .config import DEFAULT, EngineConfig
from .envelope import require, wide
from .functions import explode_kring_native, parent_cell_col
from .grid import bin_floor, box_cell_count, explode_box, explode_neighbours


def site_cells(sites: DataFrame, cfg: EngineConfig = DEFAULT,
               level: int | None = None) -> DataFrame:
    """Attach cell ids to KDE mass sites (trace_prep.interpolate_sites)."""
    lvl = level if level is not None else cfg.cell_level
    from .functions import encode_cell_native
    return encode_cell_native(sites, "site_lat", "site_lon", "cell_id", lvl)


def cell_density(sites: DataFrame, cfg: EngineConfig = DEFAULT,
                 level: int | None = None,
                 by_host: bool = False,
                 salted: bool = False) -> DataFrame:
    """A2-global raster: total dwell-seconds per cell (optionally per host).

    With salted=True (BASELINE.json 'salted repartitioning for hot-cell
    skew'; used by the production pipeline in submit.py/bench.py) the sum
    runs as a two-stage aggregation: partial sums on (keys..., salt) then
    final on keys.  This bounds any single reduce task to ~1/salt_buckets of
    a hot cell's rows even when hash partial-aggregation falls back to
    sort-spill on a dominant key.
    """
    df = site_cells(sites, cfg, level)
    keys = (["host", "cell_id"] if by_host else ["cell_id"])
    if not salted:
        return df.groupBy(*keys).agg(F.sum("mass_s").alias("mass_s"))
    salt = F.pmod(F.xxhash64("site_lat", "site_lon", "mass_s"),
                  F.lit(cfg.salt_buckets))
    partial = (df.withColumn("_salt", salt)
               .groupBy(*keys, "_salt").agg(F.sum("mass_s").alias("_m")))
    return partial.groupBy(*keys).agg(F.sum("_m").alias("mass_s"))


def _ring_weights(k: int, sigma_cells: float) -> list[float]:
    off = np.arange(-k, k + 1, dtype=np.float64)
    g1 = np.exp(-0.5 * (off / sigma_cells) ** 2)
    g2 = np.outer(g1, g1)  # row-major matches cell_neighbors offset order
    g2 /= g2.sum()
    return [float(v) for v in g2.ravel()]


def kring_smooth(density: DataFrame, cfg: EngineConfig = DEFAULT,
                 level: int | None = None, k: int = 1,
                 sigma_cells: float = 1.0) -> DataFrame:
    """Gaussian ring-stencil smoothing of a cell raster (one shuffle).

    Each cell scatters its mass into its (2k+1)^2 neighborhood with
    normalized Gaussian weights; total mass is conserved.  The ring ids
    come from the native decode->offset->re-encode chain
    (engine.functions.explode_kring_native, bit-exact twin of
    geo.cell_neighbors and offset-ordered row-major like the weights), so
    the whole stencil stays in whole-stage codegen — no Python round-trip.
    """
    lvl = level if level is not None else cfg.cell_level
    w = F.lit(_ring_weights(k, sigma_cells))
    exploded = (explode_kring_native(density.select("cell_id", "mass_s"),
                                     lvl, k=k)
                .select(F.col("ncell").alias("_ncell"),
                        (F.col("mass_s")
                         * F.element_at(w, F.col("pos") + 1)).alias("m")))
    return (exploded.groupBy(F.col("_ncell").alias("cell_id"))
            .agg(F.sum("m").alias("mass_s")))


def rollup_pyramid(density: DataFrame, cfg: EngineConfig = DEFAULT,
                   levels: tuple[int, ...] | None = None,
                   base_level: int | None = None) -> DataFrame:
    """Tile pyramid (level, cell_id, mass_s): every level's cell masses
    from ONE read of the base raster and ONE aggregation.

    Each base cell row fans out to one (level, ancestor cell) key per
    level — its own cell at the base level, the bit-math parent
    (parent_cell_col, stays in codegen) at coarser ones — and a single
    partial-aggregated groupBy(level, cell_id) sums them.  Every level
    sums base-cell values, never another level's sums, so float masses
    are not re-rounded through sums of sums.  A union of per-level
    rollups would read `density` once per level, and a density built
    over a cached frame gets no exchange reuse, so each branch would
    recompute it.
    """
    lvls = levels if levels is not None else cfg.tile_levels
    base = base_level if base_level is not None else cfg.cell_level
    cell = F.col("cell_id")
    keys = F.array(*[
        F.struct(F.lit(lvl).alias("level"),
                 (cell if lvl == base else parent_cell_col(cell, lvl))
                 .alias("cell_id"))
        for lvl in lvls])
    return (density.select(F.inline(keys), "mass_s")
            .groupBy("level", "cell_id").agg(F.sum("mass_s").alias("mass_s")))


def extract_components(density: DataFrame, threshold_s: float,
                       cfg: EngineConfig = DEFAULT,
                       level: int | None = None,
                       max_iters: int = 12) -> DataFrame:
    """Vector extraction: super-threshold cells -> connected components
    of their ring-1 adjacency, labelled by ops.min_label_components
    (component_id = the minimum cell id; RuntimeError if max_iters
    label-contraction rounds don't reach a fixpoint).
    Returns (cell_id, mass_s, component_id).
    """
    from .ops import min_label_components
    lvl = level if level is not None else cfg.cell_level
    hot = (density.filter(F.col("mass_s") >= F.lit(threshold_s))
           .select("cell_id", "mass_s")).cache()
    hot.count()
    # native ring-1 explode (UDF-free); duplicate (cell, ncell) edges can
    # appear for corner cells where the ring folds onto itself — harmless
    # under the min-label aggregation, so no distinct pass is spent on them.
    # The cache() below is a CORRECTNESS-OF-PLANNING barrier, not just a
    # reuse cache: Catalyst's constraint propagation substitutes alias
    # definitions into inferred predicates, and a Filter/Join placed
    # directly over the native decode->re-encode expression chain makes
    # that substitution combinatorial (measured: driver OOM at 3 input
    # rows).  InMemoryRelation is a constraint leaf, so filtering/joining
    # over the cached ring keeps the optimizer in bare-attribute land.
    ring = (explode_kring_native(hot.select("cell_id"), lvl, k=1)
            .select("cell_id", "ncell")).cache()
    # keep only edges between two hot cells
    edges = (ring.filter(F.col("cell_id") != F.col("ncell"))
             .join(hot.select(F.col("cell_id").alias("ncell")), "ncell",
                   "left_semi"))
    comp = min_label_components(hot.select("cell_id"), edges,
                                id_col="cell_id", a_col="cell_id",
                                b_col="ncell", max_iters=max_iters)
    ring.unpersist()
    return hot.join(comp, "cell_id")


# ---------------------------------------------------------------------------
# J4 — point-in-polygon join
# ---------------------------------------------------------------------------

def with_cell_cover(polygons: DataFrame, cfg: EngineConfig = DEFAULT,
                    level: int | None = None) -> DataFrame:
    """Attach the superset cell cover (array<long>) to each polygon.

    Batched per Arrow chunk; the per-polygon cover computation itself is
    vectorized numpy (engine.geo.polygon_cell_cover).  Polygons are the
    small side of J4, so this runs once over a small table.
    """
    lvl = level if level is not None else cfg.cell_level
    schema = T.StructType(polygons.schema.fields
                          + [T.StructField("cell_cover",
                                           T.ArrayType(T.LongType()))])

    def add_cover(it):
        for pdf in it:
            covers = [geo.polygon_cell_cover(np.array(list(ring), dtype=np.float64),
                                             lvl).tolist()
                      for ring in pdf["ring"]]
            yield pdf.assign(cell_cover=covers)

    return polygons.mapInPandas(add_cover, schema=schema)


def pip_join(points: DataFrame, polygons_with_cover: DataFrame,
             cfg: EngineConfig = DEFAULT,
             broadcast_polygons: bool = True) -> DataFrame:
    """J4 — (point, polygon) pairs where the point lies inside the polygon.

    Phase 1: equi-join point.cell_id against the exploded polygon cover
    (broadcast by default — the polygon side is small).
    Phase 2: exact ray-casting refine, vectorized per polygon group.
    Points must carry (url, lat, lon, cell_id) at cfg.cell_level.
    """
    cover = (polygons_with_cover
             .select("polygon_id", "ring",
                     F.explode("cell_cover").alias("cell_id")))
    if broadcast_polygons:
        cover = F.broadcast(cover)
    cand = points.select("url", "lat", "lon", "cell_id").join(cover, "cell_id")

    # Refine is row-independent and the ring rides on every candidate row,
    # so it runs as mapInPandas over the candidate stream (grouped by ring
    # only WITHIN each Arrow batch) — no shuffle, and a hot polygon
    # (downtown) spreads across tasks instead of serializing into one
    # groupBy(polygon_id) task.
    empty = pd.DataFrame({"url": pd.Series(dtype=str),
                          "polygon_id": pd.Series(dtype="int64")})

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield empty
                continue
            outs = []
            for _, g in pdf.groupby("polygon_id", sort=False):
                ring = np.array(list(g["ring"].iloc[0]), dtype=np.float64)
                inside = geo.points_in_ring(g["lon"].to_numpy(np.float64),
                                            g["lat"].to_numpy(np.float64), ring)
                outs.append(g.loc[inside, ["url", "polygon_id"]])
            yield pd.concat(outs) if outs else empty

    return cand.mapInPandas(refine, schema="url string, polygon_id long")


# ---------------------------------------------------------------------------
# grid-cell statistics: Gi* hotspots, focal and zonal statistics
# ---------------------------------------------------------------------------

def hotspot_gi(pts: DataFrame, x_col: str, y_col: str,
               cell_size: int) -> DataFrame:
    """Getis–Ord Gi*-style hotspot statistic over the OCCUPIED-cell
    lattice (the sparse variant: the population is the set of occupied
    cells, weights are binary over each cell's 3x3 neighborhood
    INCLUDING itself — the * in Gi*).  For each occupied cell: its point
    count v, the neighborhood size W (occupied cells among the 9), the
    neighborhood sum w_sum, and the z-score

        z = (n·w_sum − W·S) /
            ( sqrt(n·SS − S²) · sqrt((n·W − W²) / (n − 1)) )

    — the classic Gi* formula cleared of fractions so every inner term
    is an EXACT int64 (n = occupied cells, S = Σv, SS = Σv²) and z is
    one fixed IEEE tree over them (sqrt correctly rounded → the double
    is bit-portable; the oracle replays the identical tree).  NULL z
    when n < 2, when the population is constant (n·SS = S²), or when a
    cell's neighborhood covers the whole population (W = n, zero
    selection variance).

    Overflow envelope ENFORCED: n·SS < 2^62 and S² < 2^62 (driver-scalar
    check — these are global aggregates the formula needs anyway);
    n·w_sum ≤ n·S and W·S ≤ 9·S are then bounded too.

    100-TB shape: points fold into occupied-cell counts map-side first
    (ONE combinable exchange, the corpus never rides further); the
    neighborhood sum is the tile-stencil trick — each occupied cell
    donates its count to its 9 neighbor cells (a 9x explode of the
    CELL table, not the points) and one combinable agg re-collects
    them; globals are three driver scalars riding back as literals, so
    the z computation is map-only.
    """
    if cell_size <= 0:
        raise ValueError("hotspot_gi: cell_size must be positive")
    cs = int(cell_size)
    cnt = (pts.select(bin_floor(F.col(x_col).cast("long"), cs).alias("cx"),
                      bin_floor(F.col(y_col).cast("long"), cs).alias("cy"))
           .groupBy("cx", "cy")
           .agg(F.count(F.lit(1)).cast("long").alias("v")))
    # n, S and SS feed the z computation; the check multiplies them as
    # Python ints
    (n, s, ss), = require(cnt, (
        F.struct(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("s"),
                 F.coalesce(F.sum(wide("v") * wide("v")), F.lit(0))
                 .alias("ss")),
        lambda g: g.n * int(g.ss) >= (1 << 62) or g.s * g.s >= (1 << 62),
        lambda g: f"hotspot_gi: n*SS = {g.n * int(g.ss)} or S^2 = "
                  f"{g.s * g.s} breaches the int64 envelope (< 2^62); "
                  f"rescale counts"))
    ss = int(ss)
    donate = explode_neighbours(cnt, ["v"], [F.col("cx"), F.col("cy")],
                                ["cx", "cy"])
    nbr = donate.groupBy("cx", "cy").agg(
        F.sum("v").cast("long").alias("w_sum"),
        F.count(F.lit(1)).cast("long").alias("w_cnt"))
    out = cnt.join(nbr, ["cx", "cy"])
    num = (F.lit(n) * F.col("w_sum") - F.col("w_cnt") * F.lit(s))
    d1 = F.sqrt(F.lit(float(n * ss - s * s)))
    d2 = F.sqrt((F.lit(n) * F.col("w_cnt")
                 - F.col("w_cnt") * F.col("w_cnt")).cast("double")
                / F.lit(float(n - 1 if n > 1 else 1)))
    z = F.when(F.lit(n > 1) & F.lit(n * ss - s * s > 0)
               & (F.col("w_cnt") < F.lit(n)),
               num.cast("double") / (d1 * d2))
    return out.select("cx", "cy", "v", "w_cnt", "w_sum", z.alias("z"))


def focal_stats(raster: DataFrame, keys: list[str] | tuple[str, ...],
                cx_col: str, cy_col: str, val_col: str,
                include_self: bool = True) -> DataFrame:
    """X18 — raster focal (moving-window) statistics, the map-algebra
    neighborhood op: for every OCCUPIED cell of an integer-valued
    sparse raster, the exact sum / min / max / occupied-count over its
    3×3 neighborhood — focal sums drive smoothing, gradient and
    hot-cell passes in raster GIS, and on a sparse raster the occupied
    set IS the data (absent neighbors contribute nothing; f_cnt says
    how many neighbors existed, so a caller can derive any mean it
    wants downstream — emitting floor(mean) here would just lose
    information).  include_self=False gives the annulus (Moore ring)
    variant used for contrast/outlier passes.  Duplicate (key, cell)
    rows are REJECTED with a raise — a sparse raster is a function,
    and silently double-counting a cell in every neighbor's sum is
    the classic silent-corruption bug.  All emitted numbers are exact
    BIGINT.

    Shape: every occupied cell scatters its value to its 9 (or 8)
    neighbor coordinates via a literal offset explode — the GATHER
    formulation turned into one map-side SCATTER feeding ONE
    combinable (key, cell)-keyed agg, then an equi-join back against
    the occupied set (same keys, co-partitioned by AQE) to restrict
    the output; no window, no self-join per offset, no Python.  At
    100 TB the raster shuffles once at 9× row fan-out of ~40-byte
    rows, and hot regions spread because the agg key is the cell
    itself.
    """
    keys = list(keys)
    r = raster.select(*keys,
                      F.col(cx_col).cast("long").alias("_cx"),
                      F.col(cy_col).cast("long").alias("_cy"),
                      F.col(val_col).cast("long").alias("_v"))
    require(r.groupBy(*keys, "_cx", "_cy").count(), (
        F.max("count"), lambda dup: dup > 1,
        "focal_stats: duplicate (key, cell) rows present — a "
        "sparse raster must be a function; aggregate upstream"))
    scat = explode_neighbours(r, [*keys, "_v"],
                              [F.col("_cx"), F.col("_cy")], ["_cx", "_cy"],
                              centre=include_self)
    agg = (scat.groupBy(*keys, "_cx", "_cy")
           .agg(F.sum("_v").cast("long").alias("f_sum"),
                F.count(F.lit(1)).cast("long").alias("f_cnt"),
                F.min("_v").alias("f_min"),
                F.max("_v").alias("f_max")))
    out = (r.join(agg, [*keys, "_cx", "_cy"], "left")
           .select(*keys, F.col("_cx").alias(cx_col),
                   F.col("_cy").alias(cy_col),
                   F.col("_v").alias(val_col),
                   F.coalesce(F.col("f_sum"), F.lit(0).cast("long"))
                   .alias("f_sum"),
                   F.coalesce(F.col("f_cnt"), F.lit(0).cast("long"))
                   .alias("f_cnt"),
                   "f_min", "f_max"))
    return out


def zonal_stats(raster: DataFrame, zones: DataFrame,
                cx_col: str, cy_col: str, val_col: str,
                zone_id: str = "zone_id",
                zone_box: tuple[str, str, str, str] =
                ("zx1", "zy1", "zx2", "zy2"),
                cell: int = 64, max_cells: int = 4096,
                max_zones: int = 65536) -> DataFrame:
    """X24 — zonal statistics, the canonical raster-GIS reduction:
    for every zone (CLOSED integer rectangle), the exact count / sum
    / min / max of the sparse value raster's cells inside it.  A cell
    lying in several overlapping zones contributes to EACH (the
    standard overlapping-zone semantics); zones containing no
    occupied cell are PRESENT with zero count and NULL min/max — the
    empty zone is a finding, not an absence.  All emitted numbers are
    exact BIGINT.

    Shape: zones are a BROADCAST dim (<= max_zones ENFORCED with a
    raise — zone systems are administrative, not corpus-sized),
    exploded over the width-`cell` grid cells their box covers
    (<= max_cells per zone, raise) so the containment test is ONE
    map-side equi-join on the raster cell's single true grid cell
    followed by the exact box filter — the raster never shuffles for
    candidate generation; one combinable zone-keyed agg and a left
    join back to the zone skeleton finish.  Inverted boxes raise.
    """
    zx1, zy1, zx2, zy2 = zone_box
    z = zones.select(F.col(zone_id).alias("_zid"),
                     F.col(zx1).cast("long").alias("_x1"),
                     F.col(zy1).cast("long").alias("_y1"),
                     F.col(zx2).cast("long").alias("_x2"),
                     F.col(zy2).cast("long").alias("_y2"))
    cs = int(cell)
    # a valid width even when cell <= 0, so that rule raises in its place
    w = max(cs, 1)
    lo = [bin_floor(F.col("_x1"), w), bin_floor(F.col("_y1"), w)]
    hi = [bin_floor(F.col("_x2"), w), bin_floor(F.col("_y2"), w)]
    ncell = box_cell_count(lo, hi, max_cells)
    # ONE validation job over the (dim-sized) zone table: zone count,
    # inverted boxes, per-zone fan-out, and the COMBINED cover budget —
    # max_zones and max_cells alone still admit a ~2.7e8-row exploded
    # broadcast (an executor OOM); the total is what the broadcast
    # premise actually depends on.  The total is exact once no zone
    # exceeds max_cells, and that check raises first.
    max_total = 1 << 22
    nzones = F.count(F.lit(1))
    require(z, (nzones, lambda n: n == 0, "zonal_stats: zones is empty"), (
        nzones, lambda n: n > int(max_zones),
        # names at most max_zones + 1 zones
        lambda n: f"zonal_stats: {min(n, int(max_zones) + 1)} zones "
                  f"exceed max_zones={max_zones} — broadcastability is "
                  f"the design premise"),
        (F.lit(cs), lambda c: c <= 0, "zonal_stats: cell must be positive"),
        (F.bool_or((F.col("_x2") < F.col("_x1"))
                   | (F.col("_y2") < F.col("_y1"))), bool,
         "zonal_stats: inverted zone box present"), (
        F.max(ncell), lambda fan: fan > int(max_cells),
        f"zonal_stats: a zone covers more than {max_cells} grid "
        f"cells; coarsen `cell` or split the zone"), (
        F.sum(ncell), lambda total: total > max_total,
        lambda total: f"zonal_stats: zones cover {total} grid cells in "
                      f"total (> {max_total}) — the exploded broadcast "
                      f"cover table would blow the broadcast envelope; "
                      f"coarsen `cell` or shard the zone system"))
    zc = explode_box(z, ("_gx", "_gy"), lo, hi)
    r = raster.select(F.col(cx_col).cast("long").alias("_cx"),
                      F.col(cy_col).cast("long").alias("_cy"),
                      F.col(val_col).cast("long").alias("_v"))
    r = (r.withColumn("_gx", bin_floor(F.col("_cx"), cs))
         .withColumn("_gy", bin_floor(F.col("_cy"), cs)))
    hits = (r.join(F.broadcast(zc), ["_gx", "_gy"])
            .filter((F.col("_cx") >= F.col("_x1"))
                    & (F.col("_cx") <= F.col("_x2"))
                    & (F.col("_cy") >= F.col("_y1"))
                    & (F.col("_cy") <= F.col("_y2"))))
    agg = (hits.groupBy("_zid")
           .agg(F.count(F.lit(1)).cast("long").alias("z_cnt"),
                F.sum("_v").cast("long").alias("z_sum"),
                F.min("_v").alias("z_min"),
                F.max("_v").alias("z_max")))
    zl = F.lit(0).cast("long")
    return (z.select(F.col("_zid"))
            .join(agg, "_zid", "left")
            .select(F.col("_zid").alias(zone_id),
                    F.coalesce(F.col("z_cnt"), zl).alias("z_cnt"),
                    F.coalesce(F.col("z_sum"), zl).alias("z_sum"),
                    "z_min", "z_max"))
