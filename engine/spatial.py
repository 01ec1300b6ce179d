"""Computational-geometry operators over integer-grid point sets.

Planar point sets here are exact integer lattices (the same contract as
ops.radius_join_2d / knn_join_2d): every geometric predicate is an int64
cross product or dot product, so the outputs are bit-portable and the
DuckDB oracles in __spark_entry__.py replay them term-for-term.  Floats
never participate in any decision.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from .envelope import beyond, require, wide, wide_abs
from .grid import bin_floor, box_cell_count, explode_box

# |coordinate| bound so every cross/dot product of coordinate differences
# stays a provable int64: |dx|, |dy| <= 2^31, products <= 2^62, and the
# one subtraction between them < 2^63.
_COORD_LIM = 1 << 30
_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


def _hull_ccw(pts: np.ndarray) -> list[tuple[int, int]]:
    """Strict convex hull of DISTINCT int points, counter-clockwise,
    starting at the lexicographic minimum (Andrew monotone chain with
    collinear points popped — only extreme vertices survive).  All
    arithmetic in Python ints (the caller enforces |coord| <= 2^30, but
    Python ints make the kernel unconditionally overflow-free)."""
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    p = [(int(a), int(b)) for a, b in pts[order]]
    n = len(p)
    if n == 1:
        return p

    def chain(seq: list[tuple[int, int]]) -> list[tuple[int, int]]:
        out: list[tuple[int, int]] = []
        for qx, qy in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (qy - oy) - (ay - oy) * (qx - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((qx, qy))
        return out

    lower = chain(p)
    upper = chain(p[::-1])
    return lower[:-1] + upper[:-1]


def convex_hull_2d(df: DataFrame, keys: Sequence[str], x: str,
                   y: str) -> DataFrame:
    """X13 — per-key strict convex hull of an integer point set: the
    minimal bounding polygon under every service-area / coverage-extent
    / geofence-synthesis query.  Returns one row per hull VERTEX:
    (keys..., idx, x, y, n_hull, hull_2area) where idx is the position
    in counter-clockwise order starting at the lexicographically
    smallest vertex (min x, then min y) and hull_2area is the exact
    shoelace doubled area (BIGINT; 0 whenever the hull is degenerate —
    a single point or a collinear set, which yields its two endpoints).

    Vertex contract (what the oracle can replay relationally): a point
    is a hull vertex iff it is EXTREME — not in the convex hull of the
    others.  Collinear mid-edge points are NOT vertices (the chain pops
    cross <= 0).  idx is relational too: no two hull vertices are
    collinear with the start vertex p0 (three strict vertices can never
    be collinear), so CCW position = 1 + count of hull vertices u with
    cross(u - p0, v - p0) > 0 — the Graham-scan angular order stated as
    a pairwise count, O(h^2) over hull vertices only.

    Envelope ENFORCED with a raise: |x|, |y| <= 2^30 so every cross
    product in the decision fits int64 (the kernels compute in Python
    ints regardless — the envelope is the portability contract, not a
    safety patch).

    100-TB shape: extreme points of S are extreme in every subset that
    contains them, so hull(S) = hull(union of per-partition hulls) —
    stage 1 is a map-side mapInPandas pre-reduce (dedup + local hull
    per key per Arrow batch, NO shuffle) whose output per batch is
    bounded by hull sizes, and only those survivors ride the single
    (keys)-hash exchange into the per-key final chain.  The point set
    itself never shuffles.  Worst case (all points on a circle) the
    pre-reduce passes everything through — same bound as the exact
    problem demands; for that regime cap upstream or coarsen the grid.
    """
    keys = list(keys)
    xc, yc = F.col(x).cast("long"), F.col(y).cast("long")
    require(df, (F.bool_or(beyond(_COORD_LIM, xc, yc)), bool,
                 "convex_hull_2d: |coordinate| exceeds 2^30 — outside the "
                 "exact-int64 cross-product envelope; rescale upstream"))
    return _hull(df, keys, xc, yc)


def _hull(df: DataFrame, keys: list[str], xc: Column,
          yc: Column) -> DataFrame:
    """convex_hull_2d's plan over long coordinate columns the caller has
    already checked against |c| <= 2^30."""
    d = df.select(*keys, xc.alias("_x"), yc.alias("_y"))
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in d.select(*keys).schema.fields)

    def local_hulls(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            outs = []
            for kv, g in b.groupby(keys, sort=False, dropna=False):
                pts = np.unique(
                    g[["_x", "_y"]].to_numpy(dtype=np.int64), axis=0)
                hull = _hull_ccw(pts)
                kv = kv if isinstance(kv, tuple) else (kv,)
                outs.append(pd.DataFrame(
                    {**{k: pd.Series([v] * len(hull))
                        for k, v in zip(keys, kv)},
                     "_x": np.fromiter((h[0] for h in hull), np.int64,
                                       len(hull)),
                     "_y": np.fromiter((h[1] for h in hull), np.int64,
                                       len(hull))}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    pre = d.mapInPandas(local_hulls, f"{key_schema}, _x long, _y long")

    out_schema = (f"{key_schema}, idx long, x long, y long, "
                  f"n_hull long, hull_2area long")

    def final_hull(g: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(g[["_x", "_y"]].to_numpy(dtype=np.int64), axis=0)
        hull = _hull_ccw(pts)
        h = len(hull)
        a2 = 0
        for i in range(h):
            x0, y0 = hull[i]
            x1, y1 = hull[(i + 1) % h]
            a2 += x0 * y1 - x1 * y0
        if not -(1 << 63) < a2 < (1 << 63):
            raise ValueError("convex_hull_2d: doubled area overflows int64")
        res = pd.DataFrame({
            "idx": np.arange(h, dtype=np.int64),
            "x": np.fromiter((v[0] for v in hull), np.int64, h),
            "y": np.fromiter((v[1] for v in hull), np.int64, h),
            "n_hull": np.full(h, h, dtype=np.int64),
            "hull_2area": np.full(h, a2, dtype=np.int64)})
        for k in keys:
            res.insert(0, k, pd.Series([g[k].iloc[0]] * h))
        return res[keys + ["idx", "x", "y", "n_hull", "hull_2area"]]

    return pre.groupBy(*keys).applyInPandas(final_hull, out_schema)


def hull_diameter(df: DataFrame, keys: Sequence[str], x: str,
                  y: str) -> DataFrame:
    """X15 — per-key point-set diameter (farthest pair): the classic
    O(n^2) -> O(h^2) reduction through the convex hull — both endpoints
    of any diameter-achieving pair are EXTREME points (for p strictly
    inside a segment [a, b], |q - p|^2 is strictly convex along the
    segment, so it is strictly below max(|q - a|, |q - b|); interior
    points can never achieve the max, ties included), so the engine
    computes the hull first and takes the max over hull-vertex pairs
    only, while the oracle ranks ALL pairs — the two candidate sets
    provably share every maximal pair.

    Returns one row per key: (keys..., x1, y1, x2, y2, dist2) with the
    pair normalized to (x1, y1) <= (x2, y2) lexicographically and the
    winner selected under the TOTAL order (dist2 DESC, x1, y1, x2, y2)
    — deterministic across engines because dist2 is exact int64.  A
    key whose points collapse to a single distinct coordinate emits the
    self pair with dist2 = 0.

    Envelope ENFORCED: |x|, |y| <= 2^30 - 1 (one tighter than
    convex_hull_2d's bound) so dist2 = dx^2 + dy^2 < 2^63 exactly.

    100-TB shape: the hull pre-reduce does all the shrinking (the point
    set never shuffles — see convex_hull_2d); the pair join runs on
    hull vertices only, per-key O(h^2) with h typically O(log n) on
    random inputs, and the final pick is one per-key ordered window
    over h^2 rows.
    """
    keys = list(keys)
    xc, yc = F.col(x).cast("long"), F.col(y).cast("long")
    require(df, (F.bool_or(beyond(_COORD_LIM - 1, xc, yc)), bool,
                 "hull_diameter: |coordinate| exceeds 2^30 - 1 — dist2 "
                 "could overflow int64; rescale upstream"))
    # the check above implies _hull's |c| <= 2^30, so no second scan;
    # the hull names its coordinates "x"/"y" whatever the input names
    hv = (_hull(df, keys, xc, yc)
          .select(*keys, F.col("x").alias("_hx"), F.col("y").alias("_hy")))
    a = hv.select(*keys, F.col("_hx").alias("x1"), F.col("_hy").alias("y1"))
    b = hv.select(*keys, F.col("_hx").alias("x2"), F.col("_hy").alias("y2"))
    pairs = a.join(b, keys).filter(
        (F.col("x1") < F.col("x2"))
        | ((F.col("x1") == F.col("x2")) & (F.col("y1") <= F.col("y2"))))
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    scored = pairs.withColumn("dist2", dx * dx + dy * dy)
    wo = Window.partitionBy(*keys).orderBy(
        F.col("dist2").desc(), "x1", "y1", "x2", "y2")
    return (scored.withColumn("_rn", F.row_number().over(wo))
            .filter(F.col("_rn") == 1)
            .select(*keys, "x1", "y1", "x2", "y2", "dist2"))


def hausdorff_to_templates(points: DataFrame, templates: DataFrame,
                           keys: Sequence[str], x: str, y: str,
                           tpl_id: str = "tpl_id", tx: str = "tx",
                           ty: str = "ty",
                           max_template_pts: int = 4096) -> DataFrame:
    """X16 — symmetric Hausdorff distance from every per-key point set
    to every template point set, squared-exact: for key set A and
    template set B,

      h_ab  = max over a in A of  min over b in B  dist²(a, b)
      h_ba  = max over b in B of  min over a in A  dist²(a, b)
      h_sym = greatest(h_ab, h_ba)   — the Hausdorff distance SQUARED

    plus is_best = whether this template minimizes the key's h_sym
    under the total (h_sym, tpl_id) order — trajectory-to-route-
    template matching (map snapping at the route grain, trace
    classification, canonical-path assignment) with every decision an
    exact int64, so the whole surface is bit-portable and the oracle
    can restate the min/max definition with zero shared structure.

    Shape: templates are a BROADCAST dim (enforced <= max_template_pts
    rows with a raise — a route library, not a corpus); the one
    map-side broadcast join forms all (point, template-point) rows,
    then both directions collapse through map-side-combinable
    (key, tpl, point)-grain min aggs before the (key, tpl)-grain max
    — so the only exchanges after the broadcast carry one row per
    (key, tpl, point), never the cross product.  The corpus shuffles
    once per direction at the reduced grain; the best-template pick is
    one per-key window over |templates| rows.  Coordinate envelope
    |x|, |y| <= 2^30 − 1 ENFORCED on both sides (dist² < 2^63).
    """
    keys = list(keys)
    lim = _COORD_LIM - 1
    tp = templates.select(F.col(tpl_id).alias("_tid"),
                          F.col(tx).cast("long").alias("_tx"),
                          F.col(ty).cast("long").alias("_ty"))
    cmsg = ("hausdorff_to_templates: |coordinate| exceeds 2^30 - 1 — "
            "dist² could overflow int64; rescale upstream")
    ntp = F.count(F.lit(1))
    require(tp, (ntp, lambda n: n == 0,
                 "hausdorff_to_templates: templates is empty"), (
        ntp, lambda n: n > max_template_pts,
        f"hausdorff_to_templates: templates exceed "
        f"{max_template_pts} points — the template library must "
        f"stay broadcastable; raise max_template_pts explicitly "
        f"if intended"),
        (F.bool_or(beyond(lim, F.col("_tx"), F.col("_ty"))), bool, cmsg))
    pts = points.select(*keys, F.col(x).cast("long").alias("_px"),
                        F.col(y).cast("long").alias("_py"))
    require(pts, (F.bool_or(beyond(lim, F.col("_px"), F.col("_py"))),
                  bool, cmsg))
    dx = F.col("_px") - F.col("_tx")
    dy = F.col("_py") - F.col("_ty")
    cross = (pts.join(F.broadcast(tp))
             .withColumn("_d2", dx * dx + dy * dy))
    ab = (cross.groupBy(*keys, "_tid", "_px", "_py")
          .agg(F.min("_d2").alias("_m"))
          .groupBy(*keys, "_tid")
          .agg(F.max("_m").alias("h_ab")))
    ba = (cross.groupBy(*keys, "_tid", "_tx", "_ty")
          .agg(F.min("_d2").alias("_m"))
          .groupBy(*keys, "_tid")
          .agg(F.max("_m").alias("h_ba")))
    both = (ab.join(ba, [*keys, "_tid"])
            .withColumn("h_sym", F.greatest(F.col("h_ab"),
                                            F.col("h_ba"))))
    w = Window.partitionBy(*keys).orderBy(F.col("h_sym").asc(),
                                          F.col("_tid").asc())
    return (both.withColumn(
        "is_best", (F.row_number().over(w) == 1))
        .select(*keys, F.col("_tid").alias(tpl_id),
                "h_ab", "h_ba", "h_sym", "is_best"))


def snap_to_segments(points: DataFrame, segments: DataFrame,
                     keys: Sequence[str], px: str, py: str,
                     sx1: str, sy1: str, sx2: str, sy2: str, r: int,
                     p_id: str = "p_id", seg_id: str = "seg_id",
                     max_cells: int = 4096) -> DataFrame:
    """X17 — map matching: snap every point to its nearest segment
    within euclidean `r` — the road-network assignment primitive under
    GPS-trace map matching, with a DETERMINISTIC, engine-independent
    nearest rule and no float anywhere.

    Point-to-segment distance² is rational (for the interior-
    projection case it is cross²/L2 with L2 the segment's squared
    length), so the op ranks candidates under the total order

        (d2_floor, d2_frac_q, seg_id)

    where d2_floor = floor(true d²) and d2_frac_q = (rem << 20) div L2
    is the fractional part quantized to 2⁻²⁰ (rem = cross² mod L2;
    both endpoint regimes and degenerate point-segments have rem = 0
    and are EXACT).  Candidates whose true distances differ by
    >= 2⁻²⁰ of one cell are ordered exactly; only closer ties fall to
    the documented seg_id tiebreak.  In-range membership is EXACT, not
    quantized: d² <= r² iff d2_floor < r² OR (= r² AND rem = 0).
    Emits one row per matched point: (keys..., p_id, seg_id, d2_floor,
    d2_frac_q); points with no segment within `r` emit nothing.

    The projection regime is decided by exact sign tests (t_num =
    (p−a)·(b−a) against 0 and L2, the CLRS-style integer predicates):
    t <= 0 → |p−a|², t >= L2 → |p−b|², else the cross²/L2 rational.

    Shape: segments explode over the grid cells (width r) of their
    bbox EXPANDED by r — any point within r of the segment provably
    lies in one of those cells — while the POINT side keeps its single
    true cell, so each (point, segment) candidate arises exactly once
    with no dedup exchange and the corpus never explodes; the distance
    tree and range filter are map-side; one per-point rank window over
    the candidate rows finishes.  Skewed road density spreads across
    the lattice.

    Envelope, all ENFORCED with raises: r in [1, 4096] and per-axis
    segment extent <= 4096 — candidates then satisfy |p − a| <= extent
    + 2r per axis, so |cross| <= 2·2^13·2^15 = 2^29, cross² <= 2^58,
    rem << 20 < 2^45, every term provably int64 for ANY absolute
    coordinates (only differences enter).  Fan-out per segment is
    bounded by max_cells (raise — coarsen upstream or split long
    roads).
    """
    if not (1 <= r <= 4096):
        raise ValueError(
            "snap_to_segments: r must be in [1, 4096] (the exact-"
            "arithmetic envelope)")
    keys = list(keys)
    cs = int(r)
    seg = segments.select(
        *keys, F.col(seg_id),
        F.col(sx1).cast("long").alias("_x1"),
        F.col(sy1).cast("long").alias("_y1"),
        F.col(sx2).cast("long").alias("_x2"),
        F.col(sy2).cast("long").alias("_y2"))
    x1, y1, x2, y2 = (F.col(c) for c in ("_x1", "_y1", "_x2", "_y2"))
    # the box's bins padded by one cell per side (a point within r = cs
    # of the segment bins at most one cell outside), taken on the bins
    # so no coordinate term leaves the long range; the clip to the long
    # range binds only at cs = 1, where no point bins beyond it
    lo = [F.greatest(bin_floor(F.least(a, b), cs), F.lit(_LONG_MIN + 1)) - 1
          for a, b in ((x1, x2), (y1, y2))]
    hi = [F.least(bin_floor(F.greatest(a, b), cs), F.lit(_LONG_MAX - 1)) + 1
          for a, b in ((x1, x2), (y1, y2))]
    require(seg, (
        F.max(F.greatest(wide_abs(wide(x2) - wide(x1)),
                         wide_abs(wide(y2) - wide(y1)))),
        lambda ext: ext > 4096,
        lambda ext: f"snap_to_segments: a segment spans {ext} (> 4096) "
                    f"per axis — split long roads upstream (the cross² "
                    f"envelope)"), (
        F.max(box_cell_count(lo, hi, max_cells)),
        lambda fan: fan > max_cells,
        f"snap_to_segments: a segment covers more than {max_cells} "
        f"cells; coarsen the grid or split it"))
    segc = explode_box(seg, ("_cx", "_cy"), lo, hi)
    pts = points.select(*keys, F.col(p_id),
                        F.col(px).cast("long").alias("_px"),
                        F.col(py).cast("long").alias("_py"))
    pts = (pts.withColumn("_cx", bin_floor(F.col("_px"), cs))
           .withColumn("_cy", bin_floor(F.col("_py"), cs)))
    j = pts.join(segc, [*keys, "_cx", "_cy"])
    ax, ay = F.col("_x1"), F.col("_y1")
    bx, by = F.col("_x2"), F.col("_y2")
    ppx, ppy = F.col("_px"), F.col("_py")
    l2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
    tnum = (ppx - ax) * (bx - ax) + (ppy - ay) * (by - ay)
    cross = (bx - ax) * (ppy - ay) - (by - ay) * (ppx - ax)
    da2 = (ppx - ax) * (ppx - ax) + (ppy - ay) * (ppy - ay)
    db2 = (ppx - bx) * (ppx - bx) + (ppy - by) * (ppy - by)
    c2 = cross * cross
    # _l2s = max(l2, 1): a structurally non-zero divisor (ANSI mode
    # raises on div-by-zero even in branches the CASE never takes at
    # runtime under some plans; the guarded value is only READ when
    # l2 > 0, so the clamp never changes a result)
    d = (j.withColumn("_l2", l2)
         .withColumn("_l2s", F.greatest(l2, F.lit(1)))
         .withColumn(
             "_q",
             F.when((F.col("_l2") == 0) | (tnum <= 0), da2)
             .when(tnum >= F.col("_l2"), db2)
             .otherwise(F.expr("null")))
         .withColumn("_c2", c2))
    d = (d.withColumn("_floor",
                      F.coalesce(F.col("_q"),
                                 F.expr("_c2 div _l2s")))
         .withColumn("_rem",
                     F.when(F.col("_q").isNotNull(), F.lit(0))
                     .otherwise(F.expr("_c2 % _l2s")).cast("long")))
    rr = F.lit(int(r) * int(r))
    d = d.filter((F.col("_floor") < rr)
                 | ((F.col("_floor") == rr) & (F.col("_rem") == 0)))
    d = d.withColumn(
        "_frac",
        F.when(F.col("_rem") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(f"(_rem * {1 << 20}) div _l2s")))
    w = Window.partitionBy(*keys, p_id).orderBy(
        F.col("_floor").asc(), F.col("_frac").asc(),
        F.col(seg_id).asc())
    return (d.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(*keys, p_id, seg_id,
                    F.col("_floor").alias("d2_floor"),
                    F.col("_frac").alias("d2_frac_q")))
