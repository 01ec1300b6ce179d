"""Activity-location detection — the analytical core (SURVEY.md §2.4 A2-A5).

Reference analog: REF gaussian.py::kde + REF trace.py::Trace.
get_activity_locations + REF location.py [M] — time-weighted Gaussian KDE
over a user's (here: host's) trajectory, thresholded in dwell-seconds,
peaks agglomerated into activity locations.

Two Spark shapes share one numpy kernel core (detect_locations picks):
detect_locations_wholehost runs ONE kernel per host after a host shuffle
(one exchange, one stage) — the path detect_locations(auto) takes below
cfg.kde_chunked_min_points, so the small-input product path (bench.py,
the perfbench trips workload) runs it, and __spark_entry__.py calls it
directly for its quant-mode queries.  The chunk-parallel path splits the
O(sites) binning into a mapInArrow kernel over arbitrary partitions, a
distributed bucket prune, then ONE per-host kernel on the merged
occupied-cell grid (O(cells)).  Inside the kernels everything is
vectorized numpy on a SPARSE grid:

  1. X3   — segment interpolation (identical math to
            trace_prep.interpolate_sites; parity is tested),
  2. A2   — bin site mass to a grid_cell_m grid in a local equirectangular
            frame anchored at the host's first point (§2.9), then Gaussian
            smoothing by direct stencil accumulation over OCCUPIED cells
            only (O(sites x stencil), no dense extent blowup — a host whose
            pages span the globe costs O(its sites), not O(its bbox)),
  3. A3   — threshold at kde_time_threshold_s (density is in seconds/cell:
            the stencil is normalized to sum 1),
  4. A4   — union-find agglomeration of super-threshold cells within
            cluster_distance_m,
  5. A5   — density-weighted centroid + dwell per cluster; location ids
            numbered by dwell desc then (lon, lat) — fully deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from .config import DEFAULT, EngineConfig
from .functions import host_runs

LOCATION_SCHEMA = ("host string, location_id int, lat double, lon double, "
                   "dwell_s double, n_cells int")


def _sites_numpy(lat, lon, nlat, nlon, ndt, step_m, quant: bool):
    """X3 twin of trace_prep.interpolate_sites (same math, numpy).

    Each site's mass is snapped to integer units BEFORE any accumulation
    (ms floored in quant mode, us rounded otherwise), so the whole-host
    and the chunk-parallel kernels sum identical per-site integers.
    Returns (site_lat, site_lon, mass, row): `row` is the input row of
    each site's segment start."""
    seg = np.flatnonzero(~np.isnan(ndt))
    a_lat, a_lon = lat[seg], lon[seg]
    b_lat, b_lon = nlat[seg], nlon[seg]
    dt = ndt[seg]
    d = geo.haversine_m(a_lat, a_lon, b_lat, b_lon)
    n = np.maximum(1, np.ceil(d / step_m)).astype(np.int64)
    seg_idx = np.repeat(np.arange(len(n)), n)
    # k-th site within its segment
    starts = np.concatenate([[0], np.cumsum(n)[:-1]])
    k = np.arange(len(seg_idx)) - starts[seg_idx]
    frac = (k + 0.5) / n[seg_idx]
    slat = a_lat[seg_idx] + frac * (b_lat[seg_idx] - a_lat[seg_idx])
    slon = a_lon[seg_idx] + frac * (b_lon[seg_idx] - a_lon[seg_idx])
    mass = dt[seg_idx] / n[seg_idx]
    mass = (np.floor(mass * QUANT_MASS_SCALE) if quant
            else np.round(mass * FLOAT_MASS_SCALE))
    return slat, slon, mass, seg[seg_idx]


def _cell_sums(ix, iy, mass):
    """Sum site mass per distinct cell -> (uix, uiy, m0), sorted by key."""
    uk, inv = np.unique(_pack(ix, iy), return_inverse=True)
    uix, uiy = _unpack(uk)
    return uix, uiy, np.bincount(inv, weights=mass)


def _bucket_shift(cfg: EngineConfig) -> int:
    """log2 of the coarse-bucket edge in cells for the threshold-aware
    prune: >= 16 cells and wider than the stencil radius."""
    r_cells = int(np.ceil(3.0 * cfg.kernel_bandwidth_m / cfg.grid_cell_m))
    return max(4, int(np.ceil(np.log2(r_cells + 1))))


def _dilated_buckets(keys, mass, thr):
    """The threshold-aware bucket prune, shared by both kernels and the
    distributed prune: _pack'ed coarse-bucket keys (repeats allowed) with
    their masses -> sorted unique keys of the 1-bucket dilation of every
    bucket whose 3x3 neighbourhood mass is >= thr.  The stencil sums to 1,
    so only cells inside those buckets can contribute to a super-threshold
    density.  Masses are integer-valued, so every sum is exact and
    order-free."""
    ucb, inv = np.unique(keys, return_inverse=True)
    cmass = np.bincount(inv, weights=mass)
    bx, by = _unpack(ucb)
    nbh = np.zeros(len(ucb))
    for a in (-1, 0, 1):
        for b in (-1, 0, 1):
            nkey = _pack(bx + a, by + b)
            pos = np.clip(np.searchsorted(ucb, nkey), 0, len(ucb) - 1)
            hit = ucb[pos] == nkey
            nbh += np.bincount(pos[hit], weights=cmass[hit],
                               minlength=len(ucb))
    cx, cy = _unpack(ucb[nbh >= thr])
    return np.unique(np.concatenate(
        [_pack(cx + a, cy + b) for a in (-1, 0, 1) for b in (-1, 0, 1)]))


def _locations_by_id(lat, lon, dwell, n_cells):
    """A5 numbering: per-cluster lists -> (lat, lon, dwell_s, n_cells)
    arrays in location-id order, dwell desc then (lon, lat)."""
    order = sorted(range(len(lat)),
                   key=lambda i: (-dwell[i], lon[i], lat[i]))
    return (np.array([lat[i] for i in order]),
            np.array([lon[i] for i in order]),
            np.array([dwell[i] for i in order]),
            np.array([n_cells[i] for i in order], dtype=np.int64))


def _gauss_stencil(bandwidth_m: float, cell_m: float):
    sigma = bandwidth_m / cell_m
    r = int(np.ceil(3.0 * sigma))
    k = np.arange(-r, r + 1)
    g1 = np.exp(-0.5 * (k / sigma) ** 2)
    g2 = np.outer(g1, g1)
    g2 /= g2.sum()
    dj, di = np.meshgrid(k, k)
    return di.ravel(), dj.ravel(), g2.ravel()


def _gauss_1d(bandwidth_m: float, cell_m: float):
    """Normalized 1-D kernel; outer(g1, g1) == the normalized 2-D stencil,
    so two separable passes equal the 2-D convolution exactly (up to float
    associativity)."""
    sigma = bandwidth_m / cell_m
    r = int(np.ceil(3.0 * sigma))
    k = np.arange(-r, r + 1)
    g = np.exp(-0.5 * (k / sigma) ** 2)
    return g / g.sum()


def _pack(x, y):
    """Cell-key codec: signed int64 (x, y) -> one int64 key, x in the high
    32 bits, so sorted keys group by x (|x|, |y| < 2^31).  _unpack inverts
    it, sign-extending y."""
    return (x << np.int64(32)) ^ (y & np.int64(0xFFFFFFFF))


def _unpack(keys):
    x = np.asarray(keys) >> np.int64(32)
    y = ((np.asarray(keys) & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    return x, y


def _cluster_buckets(keys: np.ndarray) -> np.ndarray:
    """8-adjacency connected-component labels for sorted unique bucket keys."""
    bx, by = _unpack(keys)
    pos = {int(k): i for i, k in enumerate(keys.tolist())}
    labels = np.full(len(keys), -1, dtype=np.int64)
    nxt = 0
    for i in range(len(keys)):
        if labels[i] != -1:
            continue
        labels[i] = nxt
        stack = [i]
        while stack:
            j = stack.pop()
            for a in (-1, 0, 1):
                for b in (-1, 0, 1):
                    nk = int(_pack(bx[j] + a, by[j] + b))
                    t = pos.get(nk)
                    if t is not None and labels[t] == -1:
                        labels[t] = nxt
                        stack.append(t)
        nxt += 1
    return labels


def _cluster_cells(hix, hiy, cell, rmax_m):
    """A4: connected-component roots over hot cells within `rmax_m`
    (exact Euclidean on cell centers).  Bucket-indexed BFS: candidates
    come only from the 3x3 neighborhood of R-sized buckets, so cost is
    O(k x local-density) — the naive pairwise union-find is O(k^2) and
    stalls when dense corridors go hot (tens of thousands of hot cells
    on a mega-host).  Root LABELS are seed-order-dependent but the
    component PARTITION is not; callers aggregate per component."""
    cx = (np.asarray(hix, dtype=np.float64) + 0.5) * cell
    cy = (np.asarray(hiy, dtype=np.float64) + 0.5) * cell
    k = len(cx)
    rmax2 = rmax_m ** 2
    rcells = int(np.ceil(rmax_m / cell))
    bx = np.floor(np.asarray(hix, dtype=np.float64) / rcells).astype(np.int64)
    by = np.floor(np.asarray(hiy, dtype=np.float64) / rcells).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((by, bx))
    sb = np.stack([bx[order], by[order]], axis=1)
    cuts = np.flatnonzero(np.any(np.diff(sb, axis=0) != 0, axis=1)) + 1
    for grp in np.split(order, cuts):
        buckets[(int(bx[grp[0]]), int(by[grp[0]]))] = grp
    roots = np.full(k, -1, dtype=np.int64)
    for seed in range(k):
        if roots[seed] != -1:
            continue
        roots[seed] = seed
        stack = [seed]
        while stack:
            i = stack.pop()
            bi, bj = int(bx[i]), int(by[i])
            for db in range(-1, 2):
                for dj in range(-1, 2):
                    grp = buckets.get((bi + db, bj + dj))
                    if grp is None:
                        continue
                    cand = grp[roots[grp] == -1]
                    if len(cand) == 0:
                        continue
                    d2 = (cx[cand] - cx[i]) ** 2 + (cy[cand] - cy[i]) ** 2
                    hit = cand[d2 <= rmax2]
                    if len(hit):
                        roots[hit] = seed
                        stack.extend(hit.tolist())
    return roots


def _sparse_smooth_threshold(ix, iy, m, bandwidth_m, cell_m, thr):
    """Fallback sparse scatter smoothing for degenerate sprawling regions."""
    di, dj, gw = _gauss_stencil(bandwidth_m, cell_m)
    tix = (ix[:, None] + di[None, :]).ravel()
    tiy = (iy[:, None] + dj[None, :]).ravel()
    tm = (m[:, None] * gw[None, :]).ravel()
    uk, inv = np.unique(_pack(tix, tiy), return_inverse=True)
    dens = np.bincount(inv, weights=tm)
    hot = dens >= thr
    hx, hy = _unpack(uk[hot])
    return hx, hy, dens[hot]


def kde_locations_numpy(lat, lon, nlat, nlon, ndt, cfg: EngineConfig,
                        anchor: tuple[float, float], quant: bool = False):
    """Sparse-grid KDE + clustering for ONE host.  Returns
    (loc_lat, loc_lon, dwell_s, n_cells) arrays ordered by location id.
    `anchor` (lat0, lon0) is the host's FIRST point.  quant=True switches
    to the bit-portable integer-arithmetic oracle mode
    (_kde_from_grid_quant)."""
    slat, slon, mass, _ = _sites_numpy(lat, lon, nlat, nlon, ndt,
                                       cfg.interpolation_step_m, quant)
    if len(slat) == 0:
        return _locations_by_id([], [], [], [])
    lat0, lon0 = anchor
    x, y = geo.equirect_project(slat, slon, lat0, lon0)
    cell = cfg.grid_cell_m
    ix = np.floor(x / cell).astype(np.int64)
    iy = np.floor(y / cell).astype(np.int64)
    uix, uiy, m0 = _cell_sums(ix, iy, mass)
    kde = _kde_from_grid_quant if quant else _kde_from_grid
    return kde(uix, uiy, m0, lat0, lon0, cfg)


def _kde_from_grid(uix, uiy, m0, lat0, lon0, cfg: EngineConfig):
    """A2(smooth)-A5 on an already-binned sparse grid: UNIQUE occupied
    cells (uix, uiy) carrying aggregated dwell mass m0 (integer
    microseconds, see FLOAT_MASS_SCALE), in the host-local equirectangular
    frame anchored at (lat0, lon0).  Shared by the whole-host kernel
    (kde_locations_numpy) and the chunk-parallel detect_locations merge
    kernel — cost is O(occupied cells), independent of the host's point
    count.

    Determinism contract: the input cells are canonically re-sorted by
    (ix, iy) first, so every float accumulation below runs in ONE fixed
    order no matter how the caller packed/sorted its cell keys — with the
    integer-us mass snap this makes wholehost and chunked byte-identical."""
    order = np.lexsort((uiy, uix))
    uix, uiy, m0 = (np.asarray(uix)[order], np.asarray(uiy)[order],
                    np.asarray(m0)[order])
    thr = cfg.kde_time_threshold_s * FLOAT_MASS_SCALE
    cell = cfg.grid_cell_m
    # EXACT threshold-aware pruning before smoothing (_dilated_buckets):
    # density(c) <= total mass within c +- r cells <= the 3x3 coarse-
    # bucket (16-cell = 200 m) neighborhood mass of c's bucket.
    # A mega-host's travel corridors occupy ~1M distinct cells carrying
    # seconds of mass each — without this, the scatter below builds 169x
    # that and a single host serializes the whole job (measured 329 s ->
    # ~2 s; scaling-efficiency bottleneck).
    bshift = _bucket_shift(cfg)
    ck = _pack(uix >> bshift, uiy >> bshift)
    dil = _dilated_buckets(ck, m0, thr)
    if len(dil) == 0:
        return _locations_by_id([], [], [], [])
    keep = np.isin(ck, dil)
    uix, uiy, m0 = uix[keep], uiy[keep], m0[keep]
    ckk = ck[keep]

    # Gaussian smoothing on DENSE per-region blocks: cluster the dilated
    # candidate buckets (8-adjacency BFS), then one small dense grid +
    # separable 1-D convolutions per region.  Regions are >= 1 empty bucket
    # (16 cells > stencil radius 6) apart, so no cross-region mass — exact.
    # A dense region grid is O(region bbox); the sparse 169-point scatter is
    # O(kept_cells x 169) and melts down when corridors go hot (a 1.4M-point
    # host kept 1.2M cells -> 210M scatter entries; this path is ~1000x less
    # traffic).  Degenerate huge-bbox regions (continent-spanning) fall back
    # to the sparse scatter per region.
    g1 = _gauss_1d(cfg.kernel_bandwidth_m, cell)
    r = (len(g1) - 1) // 2
    labels = _cluster_buckets(dil)  # aligned to sorted `dil`
    cell_region = labels[np.searchsorted(dil, ckk)]
    hix_l, hiy_l, hd_l = [], [], []
    for reg in np.unique(cell_region):
        sel = cell_region == reg
        rix, riy, rm = uix[sel], uiy[sel], m0[sel]
        x0, x1 = int(rix.min()) - r, int(rix.max()) + r
        y0, y1 = int(riy.min()) - r, int(riy.max()) + r
        h, w = x1 - x0 + 1, y1 - y0 + 1
        if h * w > 20_000_000:  # degenerate sprawl: sparse fallback
            hx, hy, hv = _sparse_smooth_threshold(
                rix, riy, rm, cfg.kernel_bandwidth_m, cell, thr)
        else:
            # bincount scatter, not np.add.at (~10x on this VM): rm is
            # integer-valued (integer-us site masses), so the per-cell sum
            # is exact and order-free — bit-identical accumulation.
            grid = np.bincount((rix - x0) * w + (riy - y0), weights=rm,
                               minlength=h * w).reshape(h, w)
            from numpy.lib.stride_tricks import sliding_window_view
            pad = np.pad(grid, ((r, r), (0, 0)))
            grid = np.ascontiguousarray(
                sliding_window_view(pad, len(g1), axis=0)[:, :, :] @ g1)
            pad = np.pad(grid, ((0, 0), (r, r)))
            grid = sliding_window_view(pad, len(g1), axis=1) @ g1
            gx, gy = np.nonzero(grid >= thr)
            hx, hy, hv = gx + x0, gy + y0, grid[gx, gy]
        hix_l.append(hx)
        hiy_l.append(hy)
        hd_l.append(hv)
    hix = np.concatenate(hix_l).astype(np.float64)
    hiy = np.concatenate(hiy_l).astype(np.float64)
    hd = np.concatenate(hd_l)
    if len(hix) == 0:
        return _locations_by_id([], [], [], [])

    # A4 (shared helper _cluster_cells): connected components over
    # super-threshold cells within cluster_distance.
    roots = _cluster_cells(hix, hiy, cell, cfg.cluster_distance_m)
    cx = (hix + 0.5) * cell
    cy = (hiy + 0.5) * cell

    # A5: centroid + dwell per cluster
    labels = np.unique(roots)
    out_lat, out_lon, out_dwell, out_n = [], [], [], []
    for r in labels:
        mask = roots == r
        w = hd[mask]
        mx = float((cx[mask] * w).sum() / w.sum())
        my = float((cy[mask] * w).sum() / w.sum())
        clat, clon = geo.equirect_unproject(mx, my, lat0, lon0)
        out_lat.append(float(clat))
        out_lon.append(float(clon))
        out_dwell.append(float(w.sum()) / FLOAT_MASS_SCALE)
        out_n.append(int(mask.sum()))
    return _locations_by_id(out_lat, out_lon, out_dwell, out_n)


QUANT_W_SCALE = 1 << 16          # stencil weights -> integers
QUANT_MASS_SCALE = 1000.0        # site mass seconds -> integer ms
# Float-mode site mass is snapped to integer MICROSECONDS at the site level
# (np.round; both the whole-host and the chunk-parallel kernels snap the
# same per-site values), so every mass accumulation up to the Gaussian
# convolution is an exact-integer sum — merge/arrival order cannot change a
# cell's mass, and chunked == wholehost BYTE-exactly.  Headroom: a cell's
# mass is bounded by the host's observed time span; 2^53 us ~ 285 years, so
# float64 bincount sums stay exact with enormous margin.  The snap perturbs
# each site by < 0.5 us — ~1e-9 relative — far inside the goldens' 1e-9-deg
# centroid tolerance (a weighted-mean shift of eps-relative mass moves the
# centroid by <= eps x cluster radius ~ 5e-8 m).
FLOAT_MASS_SCALE = 1e6           # site mass seconds -> integer us


def quant_stencil(cfg: EngineConfig = DEFAULT):
    """Integer Gaussian stencil for the bit-portable oracle mode: the same
    normalized 2-D kernel as _gauss_stencil, rounded to QUANT_W_SCALE
    integer weights (zero taps dropped).  These integers are the SINGLE
    SOURCE OF TRUTH for both the engine quant kernel and the DuckDB oracle
    SQL (which embeds them as literals) — exp() never has to agree
    cross-engine.  Returns (di, dj, w_int, wsum)."""
    di, dj, g = _gauss_stencil(cfg.kernel_bandwidth_m, cfg.grid_cell_m)
    w = np.round(g * QUANT_W_SCALE).astype(np.int64)
    nz = w > 0
    return di[nz], dj[nz], w[nz], int(w[nz].sum())


def _kde_from_grid_quant(uix, uiy, m0, lat0, lon0, cfg: EngineConfig):
    """Bit-portable quant twin of _kde_from_grid (same A2-A5 lattice,
    exact-integer arithmetic end to end) — the oracle mode that lets the
    FULL location-detection chain be replayed in ANSI SQL:

      * m0 arrives as integer-ms cell masses (floor at site level) — every
        aggregation is an exact-integer sum, order-independent;
      * smoothing is the quant_stencil integer scatter: dens(c) =
        sum(m0_ms * w_int) in int64 (<= host_ms * wsum < 2^53 headroom by
        construction at QUANT_W_SCALE = 2^16);
      * A3 threshold is the integer compare dens >= thr_ms * wsum;
      * A4 is the shared _cluster_cells BFS (the adjacency predicate
        (dx^2+dy^2)*cell^2 <= rmax^2 is exact float math on integers);
      * A5 centroids come from integer moment sums shifted to the cluster
        min corner (sdx = sum(dens*(ix-ix0)) fits int64), so the only
        float ops are one division, one add chain, and the equirect
        unproject — identical op order to the SQL replay.

    The threshold-aware bucket prune is _kde_from_grid's (_dilated_buckets)
    with the ms-scaled threshold; it provably changes nothing about hot
    cells, so the SQL oracle skips it."""
    thr_ms = cfg.kde_time_threshold_s * float(QUANT_MASS_SCALE)
    cell = cfg.grid_cell_m
    # --- prune (thr in ms)
    bshift = _bucket_shift(cfg)
    ck = _pack(uix >> bshift, uiy >> bshift)
    dil = _dilated_buckets(ck, m0, thr_ms)
    if len(dil) == 0:
        return _locations_by_id([], [], [], [])
    keep = np.isin(ck, dil)
    uix, uiy, m0 = uix[keep], uiy[keep], m0[keep]

    # --- A2 quant: integer stencil scatter over kept cells
    di, dj, w, wsum = quant_stencil(cfg)
    m0q = m0.astype(np.int64)
    tix = (uix[:, None] + di[None, :]).ravel()
    tiy = (uiy[:, None] + dj[None, :]).ravel()
    tm = (m0q[:, None] * w[None, :]).ravel()
    uk, inv = np.unique(_pack(tix, tiy), return_inverse=True)
    dens = np.zeros(len(uk), dtype=np.int64)
    np.add.at(dens, inv, tm)
    thr_q = np.int64(round(thr_ms)) * np.int64(wsum)
    hot = dens >= thr_q
    if not bool(hot.any()):
        return _locations_by_id([], [], [], [])
    hix, hiy = _unpack(uk[hot])
    hd = dens[hot]

    # --- A4 (shared helper)
    roots = _cluster_cells(hix, hiy, cell, cfg.cluster_distance_m)

    # --- A5 quant: integer moment sums, then ONE division per axis
    denom = float(QUANT_MASS_SCALE) * wsum
    out_lat, out_lon, out_dwell, out_n = [], [], [], []
    for r in np.unique(roots):
        mask = roots == r
        d = hd[mask]
        gx, gy = hix[mask], hiy[mask]
        sd = int(d.sum())
        ix0, iy0 = int(gx.min()), int(gy.min())
        sdx = int((d * (gx - ix0)).sum())
        sdy = int((d * (gy - iy0)).sum())
        mx = cell * ((ix0 + sdx / sd) + 0.5)
        my = cell * ((iy0 + sdy / sd) + 0.5)
        clat, clon = geo.equirect_unproject(mx, my, lat0, lon0)
        out_lat.append(float(clat))
        out_lon.append(float(clon))
        out_dwell.append(sd / denom)
        out_n.append(int(mask.sum()))
    return _locations_by_id(out_lat, out_lon, out_dwell, out_n)


def _wholehost_stream(cfg: EngineConfig, quant: bool = False):
    """mapInArrow stream over a (host)-sorted partition: runs
    kde_locations_numpy on each completed host run (functions.host_runs)
    straight off the Arrow buffers, with no per-group pandas frame
    (measured ~40% of the stage at 1500 tiny hosts).  The KDE is
    order-independent (integer-unit site masses; cells canonically
    re-sorted in _kde_from_grid), so only the projection anchor needs the
    host's FIRST point, located by argmin(seq) without a sort."""
    import pyarrow as pa

    num_cols = ("seq", "lat", "lon", "next_lat", "next_lon", "next_dt_s")
    out_names = ["host", "location_id", "lat", "lon", "dwell_s", "n_cells"]

    def stream(batches):
        for host, tbl in host_runs(batches):
            seq, lat, lon, nlat, nlon, ndt = (
                tbl[c].to_numpy(zero_copy_only=False) for c in num_cols)
            a = int(np.argmin(seq))
            la, lo, dw, nc = kde_locations_numpy(
                lat, lon, nlat, nlon, ndt, cfg,
                (float(lat[a]), float(lon[a])), quant=quant)
            if len(la) == 0:
                continue
            yield pa.record_batch([
                pa.array([host] * len(la), type=pa.string()),
                pa.array(np.arange(len(la), dtype=np.int32)),
                pa.array(la), pa.array(lo), pa.array(dw),
                pa.array(nc.astype(np.int32)),
            ], names=out_names)

    return stream


def detect_locations_wholehost(points: DataFrame,
                               cfg: EngineConfig = DEFAULT,
                               quant: bool = False) -> DataFrame:
    """Single-kernel-per-host KDE: the small-input product path.

    detect_locations(auto) picks it below cfg.kde_chunked_min_points,
    where it beats the chunk-parallel path's extra stages (bench.py and
    the perfbench trips workload run it), and __spark_entry__.py calls it
    directly for its quant-mode queries.  Its output equals the
    chunk-parallel path's byte for byte (parity-tested).  At scale the
    whole O(sites) interpolate+bin phase runs as ONE task per host, so the
    Zipf mega-host is a serial floor that caps scaling at every
    parallelism level (measured: the locations stage pinned at ~22 s from
    local[2] through local[32] on the 8M-doc corpus).

    Plumbing: one hash exchange on host + a native partition sort, then
    the streaming Arrow kernel (_wholehost_stream) — the same exchange
    count as the old groupBy().applyInPandas form without its per-group
    pandas frame construction."""
    cols = ["host", "seq", "lat", "lon",
            "next_lat", "next_lon", "next_dt_s"]
    pts = (points.select(*cols)
           .repartition(F.col("host"))
           .sortWithinPartitions("host"))
    return pts.mapInArrow(_wholehost_stream(cfg, quant=quant),
                          schema=LOCATION_SCHEMA)


_PARTIAL_SCHEMA = ("host string, ix long, iy long, mass double, "
                   "alat double, alon double")

_BUCKET_KEEP_SCHEMA = "host string, bx long, by long"


def _prune_kernel(cfg: EngineConfig, quant: bool = False):
    """Per-host distributed form of the kernels' threshold-aware bucket
    prune (_dilated_buckets), in ONE pass over the host's (already
    groupBy-merged) coarse buckets.  Emits the dilated candidate bucket
    keys — the old explode9 -> agg -> filter -> explode9 -> distinct chain
    spent ~3 extra shuffles of 9x-exploded rows to compute exactly this
    set."""
    thr = cfg.kde_time_threshold_s * (QUANT_MASS_SCALE if quant
                                      else FLOAT_MASS_SCALE)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        dil = _dilated_buckets(_pack(pdf["bx"].to_numpy(np.int64),
                                     pdf["by"].to_numpy(np.int64)),
                               pdf["bm"].to_numpy(np.float64), thr)
        bx, by = _unpack(dil)
        return pd.DataFrame({"host": pdf["host"].iloc[0], "bx": bx, "by": by})

    return kernel


def _bin_stream(cfg: EngineConfig, quant: bool = False):
    """mapInArrow kernel for the O(sites) phase of the KDE, over ARBITRARY
    partitions (no pre-shuffle): per batch, interpolate every segment into
    sites, project into the host-local frame (per-site anchors ride on the
    row), bin to grid cells, and emit per-(host, cell) partial masses.

    Fully vectorized across hosts within a batch: host strings are
    dictionary-encoded, and one lexsort on (host code, cell key) plus one
    reduceat sums every (host, cell) run of the whole batch — no bits of
    the cell key are spent on the host, so a batch may hold any number of
    distinct hosts."""
    import pyarrow as pa

    cell = cfg.grid_cell_m
    step = cfg.interpolation_step_m
    num_cols = ("lat", "lon", "next_lat", "next_lon", "next_dt_s",
                "alat", "alon")
    schema = pa.schema([("host", pa.string()), ("ix", pa.int64()),
                        ("iy", pa.int64()), ("mass", pa.float64()),
                        ("alat", pa.float64()), ("alon", pa.float64())])

    def stream(batches):
        # Coalesce input batches (Spark's Arrow default is 10k rows) to
        # ~256k rows before binning: one sort per big batch dedups
        # cells ~25x better, so the partial-mass shuffle shrinks by the
        # same factor and per-batch kernel overhead amortizes.
        buf: list = []
        buffered = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= 262_144:
                yield from _bin_table(pa.Table.from_batches(buf))
                buf, buffered = [], 0
        if buf:
            yield from _bin_table(pa.Table.from_batches(buf))

    def _bin_table(tbl):
        lat, lon, nlat, nlon, ndt, alat, alon = (
            tbl[c].to_numpy(zero_copy_only=False) for c in num_cols)
        slat, slon, mass, row = _sites_numpy(lat, lon, nlat, nlon, ndt,
                                             step, quant)
        if len(row) == 0:
            return
        x, y = geo.equirect_project(slat, slon, alat[row], alon[row])
        ix = np.floor(x / cell).astype(np.int64)
        iy = np.floor(y / cell).astype(np.int64)
        denc = tbl["host"].combine_chunks().dictionary_encode()
        code = denc.indices.to_numpy(zero_copy_only=False)[row]
        key = _pack(ix, iy)
        order = np.lexsort((key, code))
        code, key, row, mass = code[order], key[order], row[order], mass[order]
        first = np.flatnonzero(np.r_[True, (code[1:] != code[:-1])
                                     | (key[1:] != key[:-1])])
        uix, uiy = _unpack(key[first])
        arow = row[first]                       # anchors are per-host
        yield pa.record_batch([
            denc.dictionary.take(pa.array(code[first])),
            pa.array(uix), pa.array(uiy),
            pa.array(np.add.reduceat(mass, first)),
            pa.array(alat[arow]), pa.array(alon[arow]),
        ], schema=schema)

    return stream


def _grid_kernel(cfg: EngineConfig, quant: bool = False):
    """Per-host A2(smooth)-A5 on the host's pruned partial-mass rows:
    merges per-chunk partials itself (_cell_sums — one kernel instead of
    a groupBy(host, ix, iy) merge shuffle followed by a groupBy(host)
    shuffle), then runs _kde_from_grid — O(cells), independent of point
    count.  Rows are lexsorted first so every float accumulation runs in
    a deterministic order regardless of shuffle arrival order."""
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"host": [], "location_id": [], "lat": [],
                                 "lon": [], "dwell_s": [], "n_cells": []})
        ix = pdf["ix"].to_numpy(np.int64)
        iy = pdf["iy"].to_numpy(np.int64)
        m = pdf["mass"].to_numpy(np.float64)
        order = np.lexsort((m, iy, ix))
        uix, uiy, m0 = _cell_sums(ix[order], iy[order], m[order])
        kde = _kde_from_grid_quant if quant else _kde_from_grid
        la, lo, dw, nc = kde(uix, uiy, m0, float(pdf["alat"].iloc[0]),
                             float(pdf["alon"].iloc[0]), cfg)
        return pd.DataFrame({
            "host": pdf["host"].iloc[0],
            "location_id": np.arange(len(la), dtype=np.int32),
            "lat": la, "lon": lo, "dwell_s": dw,
            "n_cells": nc.astype(np.int32),
        })

    return kernel


def detect_locations(points: DataFrame, cfg: EngineConfig = DEFAULT,
                     strategy: str = "auto",
                     n_points_hint: int | None = None,
                     quant: bool = False) -> DataFrame:
    """A2-A5: geopoints (from trace_prep.prep_points) -> locations DF.

    Strategy (cost-based, like Spark's own join-strategy pick): the
    chunk-parallel path costs ~12 extra stages of scheduling overhead that
    dominate below ~1M points, where the whole-host kernel (one exchange,
    one stage) is strictly faster AND skew-safe (the biggest host is tiny).
    ``auto`` picks whole-host when ``n_points_hint`` (a count the caller
    already has, e.g. from a persisted upstream) is under
    cfg.kde_chunked_min_points; with no hint it assumes scale and goes
    chunk-parallel.  Both paths give byte-identical output (parity-tested).

    Chunk-parallel shape:

      1. per-host anchor = coords of the min-seq point (tiny agg, joined
         back — AQE broadcasts it at bench scale; at cluster scale it is a
         plain equi-join on host);
      2. `_bin_stream` (mapInArrow, NO pre-shuffle): interpolate + project
         + bin each arbitrary partition into per-(host, cell) partial
         masses — the O(sites) work, embarrassingly parallel, so the Zipf
         mega-host spreads across all cores instead of serializing;
      3. the kernel's threshold-aware bucket prune, run distributed,
         drops ~95% of corridor cells before any wide shuffle (see inline
         comment — provably exact);
      4. `_grid_kernel` per host merges the surviving partials (sorted
         unique+bincount) and runs smoothing/threshold/clustering on the
         OCCUPIED-CELL grid — orders of magnitude smaller than the point
         stream (the corridor-heavy mega-host at 8M docs is ~1M cells vs
         ~100M sites).

    Float note: site mass is snapped to integer MICROSECONDS at the site
    level in BOTH kernels (FLOAT_MASS_SCALE), so every cell-mass
    accumulation is an exact-integer sum and cross-chunk merge order
    cannot matter; _kde_from_grid then canonically re-sorts its input
    cells.  Chunked therefore equals wholehost BYTE-exactly in float mode
    too (parity test asserts full equality), matching the quant-mode
    guarantee."""
    if strategy == "auto":
        strategy = ("wholehost"
                    if (n_points_hint is not None
                        and n_points_hint < cfg.kde_chunked_min_points)
                    else "chunked")
    if strategy == "wholehost":
        return detect_locations_wholehost(points, cfg, quant=quant)
    anchors = (points.groupBy("host")
               .agg(F.min_by("lat", "seq").alias("alat"),
                    F.min_by("lon", "seq").alias("alon")))
    cols = ["host", "subset_id", "lat", "lon",
            "next_lat", "next_lon", "next_dt_s"]
    pts = points.select(*cols).join(anchors, "host")
    # Cluster partitions by (host, subset_id % salt_buckets): a host's
    # corridor cells repeat across its subsets, so host-homogeneous batches
    # dedup them at the bin step (arbitrary partitions re-emit the same
    # cells from every chunk and bloat the merge shuffle ~10x), while the
    # pmod salt still spreads the Zipf mega-host over salt_buckets parallel
    # tasks instead of serializing it.
    pts = pts.repartition(F.col("host"),
                          F.pmod(F.col("subset_id"), F.lit(cfg.salt_buckets)))
    partial = pts.mapInArrow(_bin_stream(cfg, quant=quant),
                             schema=_PARTIAL_SCHEMA)
    partial = partial.persist()  # read twice: bucket masses + kept cells
    # Distributed twin of _kde_from_grid's threshold-aware prune, applied
    # BEFORE the merge shuffle: only cells inside the 1-bucket dilation of
    # coarse buckets whose 3x3 neighborhood holds >= kde_time_threshold_s
    # can influence a super-threshold output cell (stencil sums to 1).  On
    # the 8M-doc corpus this drops the 20M corridor cells to ~1M around
    # real stops; the kernel's internal prune re-derives the SAME candidate
    # set from the kept cells (all neighbors of a candidate bucket are in
    # the dilation, so its neighborhood mass is complete), hence the result
    # is exactly the unpruned one.  The dilated-candidate table is tiny —
    # AQE turns the semi-join into a broadcast at runtime.
    bshift = _bucket_shift(cfg)
    part_b = (partial
              .withColumn("bx", F.shiftright("ix", bshift))
              .withColumn("by", F.shiftright("iy", bshift)))
    # coarse-bucket masses: keyed by (host, bx, by) — NOT host — so the
    # Zipf mega-host's buckets spread across reducers (map-side combine
    # bounds the shuffle); the result is tiny (occupied 200 m buckets)
    bucket = part_b.groupBy("host", "bx", "by").agg(F.sum("mass").alias("bm"))
    # neighborhood + threshold + dilation in ONE per-host kernel over the
    # tiny bucket table (see _prune_kernel); the dilated-candidate output
    # is tiny, so AQE turns the semi-join into a runtime broadcast
    dil = bucket.groupBy("host").applyInPandas(
        _prune_kernel(cfg, quant=quant), schema=_BUCKET_KEEP_SCHEMA)
    kept = (part_b.join(dil, ["host", "bx", "by"], "left_semi")
            .drop("bx", "by"))
    return (kept.groupBy("host")
            .applyInPandas(_grid_kernel(cfg, quant=quant),
                           schema=LOCATION_SCHEMA))
