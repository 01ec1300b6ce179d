"""Output checks: pass-to-pass equality, the trips oracle, and numpy brute
forces of the candidate-join predicates.

Every check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# pass-to-pass equality
# ---------------------------------------------------------------------------


def canon(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Row order removed: sorted by `keys`, fresh index."""
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def digest(frames: dict[str, pd.DataFrame]) -> str:
    """sha256 over the non-float columns of canonical frames.  Float
    columns are compared with a tolerance (same_outputs), not hashed: their
    last bits may follow partial-aggregation merge order."""
    h = hashlib.sha256()
    for name in sorted(frames):
        df = frames[name]
        h.update(f"{name}:{len(df)}".encode())
        for c in df.columns:
            if df[c].dtype.kind != "f":
                h.update(c.encode())
                h.update(pd.util.hash_pandas_object(
                    df[c].astype(str), index=False).to_numpy().tobytes())
    return h.hexdigest()


def same_outputs(ref: dict[str, pd.DataFrame], got: dict[str, pd.DataFrame],
                 atol: float = 1e-6) -> list[str]:
    """Exact equality of discrete columns, floats to `atol` (NaN == NaN)."""
    errs = []
    if digest(ref) != digest(got):
        errs.append("discrete-column digest differs from the first pass")
    for name, a in ref.items():
        b = got[name]
        for c in a.columns:
            if a[c].dtype.kind != "f" or len(a) != len(b):
                continue
            x = a[c].to_numpy(np.float64)
            y = b[c].to_numpy(np.float64)
            if not np.allclose(x, y, rtol=0.0, atol=atol, equal_nan=True):
                errs.append(f"{name}.{c} differs from the first pass")
    return errs


# ---------------------------------------------------------------------------
# trips: the independent single-threaded oracle
# ---------------------------------------------------------------------------


def trips_vs_oracle(pages: pd.DataFrame, gp: pd.DataFrame,
                    locs: pd.DataFrame, assigned: pd.DataFrame,
                    eps: pd.DataFrame) -> list[str]:
    """tests/oracle_ref.run_pipeline on the same pages; tolerances as in
    tests/test_pipeline_golden.py."""
    from engine.config import DEFAULT
    from tests import oracle_ref
    o_gp, o_locs, o_eps = oracle_ref.run_pipeline(pages, DEFAULT)
    errs = []

    g_e, g_o = canon(gp, ["url"]), canon(o_gp, ["url"])
    if len(g_e) != len(g_o) or not (g_e["url"].to_numpy()
                                    == g_o["url"].to_numpy()).all():
        return [f"geopoints: {len(g_e)} rows vs oracle {len(g_o)}"]
    if not np.array_equal(g_e["subset_id"].to_numpy("int64"),
                          g_o["subset_id"].to_numpy("int64")):
        errs.append("geopoints.subset_id differs from the oracle")
    if not np.allclose(g_e["weight_s"], g_o["weight_s"], rtol=0, atol=1e-6):
        errs.append("geopoints.weight_s differs from the oracle")

    a_e = canon(assigned, ["url"])["location_id"].to_numpy("float64")
    a_o = g_o["location_id"].astype("float64").to_numpy()
    if len(a_e) != len(a_o) or not ((np.isnan(a_e) & np.isnan(a_o))
                                    | (a_e == a_o)).all():
        errs.append("knn assignment differs from the oracle")

    le = canon(locs, ["host", "location_id"])
    lo = canon(o_locs, ["host", "location_id"])
    if len(le) != len(lo):
        errs.append(f"locations: {len(le)} rows vs oracle {len(lo)}")
    else:
        if not ((le["host"].to_numpy() == lo["host"].to_numpy()).all()
                and np.array_equal(le["location_id"].to_numpy("int64"),
                                   lo["location_id"].to_numpy("int64"))
                and np.array_equal(le["n_cells"].to_numpy("int64"),
                                   lo["n_cells"].to_numpy("int64"))):
            errs.append("locations: discrete columns differ from the oracle")
        for c, tol in (("lat", 1e-9), ("lon", 1e-9), ("dwell_s", 1e-5)):
            if not np.allclose(le[c], lo[c], rtol=0, atol=tol):
                errs.append(f"locations.{c} differs from the oracle")

    ee = canon(eps, ["host", "seq"])
    eo = canon(o_eps, ["host", "seq"])
    if len(ee) != len(eo):
        errs.append(f"episodes: {len(ee)} rows vs oracle {len(eo)}")
    else:
        el = ee["location_id"].astype("float64").to_numpy()
        ol = eo["location_id"].astype("float64").to_numpy()
        if not ((ee["host"].to_numpy() == eo["host"].to_numpy()).all()
                and np.array_equal(ee["seq"].to_numpy("int64"),
                                   eo["seq"].to_numpy("int64"))
                and (ee["kind"].to_numpy() == eo["kind"].to_numpy()).all()
                and ((np.isnan(el) & np.isnan(ol)) | (el == ol)).all()):
            errs.append("episodes: discrete columns differ from the oracle")
        for c, oc in (("start_ts", "start_s"), ("end_ts", "end_s")):
            s = ee[c].to_numpy("datetime64[us]").astype("int64") / 1e6
            if not np.allclose(s, eo[oc], rtol=0, atol=1e-6):
                errs.append(f"episodes.{c} differs from the oracle")
    return errs


def pyramid_mass(pyr: pd.DataFrame) -> list[str]:
    """Every pyramid level carries the same total mass."""
    tot = pyr.groupby("level")["mass_s"].sum()
    if len(tot) == 0 or not np.allclose(tot, tot.iloc[0], rtol=1e-9):
        return ["tile pyramid levels do not conserve mass"]
    return []


# ---------------------------------------------------------------------------
# spatial candidate joins: brute force of each predicate
# ---------------------------------------------------------------------------


def haversine_m(lat1, lon1, lat2, lon2):
    """The engine's haversine expression tree (functions.haversine_m_col),
    in numpy, so the threshold decision matches pair for pair."""
    from engine.config import EARTH_RADIUS_M
    rlat1, rlon1 = np.radians(lat1), np.radians(lon1)
    rlat2, rlon2 = np.radians(lat2), np.radians(lon2)
    h = (np.sin((rlat2 - rlat1) / 2.0) ** 2
         + np.cos(rlat1) * np.cos(rlat2) * np.sin((rlon2 - rlon1) / 2.0) ** 2)
    h = np.minimum(np.maximum(h, 0.0), 1.0)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))


def pip_pairs(points: pd.DataFrame, polygons: pd.DataFrame) -> set:
    """{(url, polygon_id)} with the point inside the ring (engine.geo's
    ray-casting rule, bbox-prefiltered)."""
    from engine.geo import points_in_ring
    lon = points["lon"].to_numpy(np.float64)
    lat = points["lat"].to_numpy(np.float64)
    urls = points["url"].to_numpy()
    out = set()
    for pid, ring in zip(polygons["polygon_id"], polygons["ring"]):
        ring = np.array([list(p) for p in ring], dtype=np.float64)
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        m = ((lat >= lo[1]) & (lat <= hi[1])
             & (((lon >= lo[0]) & (lon <= hi[0])) | (hi[0] - lo[0] > 180.0)))
        idx = np.flatnonzero(m)
        if len(idx):
            inside = points_in_ring(lon[idx], lat[idx], ring)
            out.update((u, int(pid)) for u in urls[idx[inside]])
    return out


def check_pip(got: pd.DataFrame, points, polygons) -> list[str]:
    want = pip_pairs(points, polygons)
    have = set(zip(got["url"], got["polygon_id"].astype("int64")))
    if len(have) != len(got):
        return ["pip_join emitted duplicate pairs"]
    if have != want:
        return [f"pip_join: {len(have - want)} extra, {len(want - have)} "
                f"missing pairs vs brute force"]
    return []


def snap_brute(points: pd.DataFrame, segs: pd.DataFrame, r: int):
    """Nearest segment within r per point under the operator's order
    (d2_floor, d2_frac_q, seg_id), in exact int64 arithmetic."""
    rows = []
    for host, sg in segs.groupby("host", sort=False):
        pt = points[points["host"] == host]
        if not len(pt):
            continue
        px = pt["gx"].to_numpy(np.int64)[:, None]
        py = pt["gy"].to_numpy(np.int64)[:, None]
        ax, ay = sg["x1"].to_numpy(np.int64), sg["y1"].to_numpy(np.int64)
        bx, by = sg["x2"].to_numpy(np.int64), sg["y2"].to_numpy(np.int64)
        l2 = (bx - ax) ** 2 + (by - ay) ** 2
        tnum = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        da2 = (px - ax) ** 2 + (py - ay) ** 2
        db2 = (px - bx) ** 2 + (py - by) ** 2
        l2s = np.maximum(l2, 1)
        c2 = cross * cross
        endpoint = (l2 == 0) | (tnum <= 0) | (tnum >= l2)
        q = np.where((l2 == 0) | (tnum <= 0), da2, db2)
        floor = np.where(endpoint, q, c2 // l2s)
        rem = np.where(endpoint, 0, c2 % l2s)
        frac = np.where(rem == 0, 0, (rem << 20) // l2s)
        ok = (floor < r * r) | ((floor == r * r) & (rem == 0))
        sid = sg["seg_id"].to_numpy(np.int64)
        pids = pt["p_id"].to_numpy(np.int64)
        for i in np.flatnonzero(ok.any(axis=1)):
            cand = np.flatnonzero(ok[i])
            best = min(cand, key=lambda j: (floor[i, j], frac[i, j], sid[j]))
            rows.append((host, int(pids[i]), int(sid[best]),
                         int(floor[i, best]), int(frac[i, best])))
    return pd.DataFrame(rows, columns=["host", "p_id", "seg_id", "d2_floor",
                                       "d2_frac_q"])


def check_snap(got: pd.DataFrame, points, segs, r: int) -> list[str]:
    want = canon(snap_brute(points, segs, r), ["p_id"])
    have = canon(got[want.columns.tolist()], ["p_id"])
    if len(have) != len(want):
        return [f"snap_to_segments: {len(have)} rows vs brute force "
                f"{len(want)}"]
    for c in want.columns:
        if not (have[c].to_numpy() == want[c].to_numpy()).all():
            return [f"snap_to_segments.{c} differs from brute force"]
    return []


def check_radius(got: pd.DataFrame, points, stops, r_m: float) -> list[str]:
    d = haversine_m(points["lat"].to_numpy()[:, None],
                    points["lon"].to_numpy()[:, None],
                    stops["slat"].to_numpy()[None, :],
                    stops["slon"].to_numpy()[None, :])
    i, j = np.nonzero(d <= r_m)
    want = pd.DataFrame({"p_id": points["p_id"].to_numpy()[i],
                         "s_id": stops["s_id"].to_numpy()[j],
                         "dist_m": d[i, j]})
    want = canon(want, ["p_id", "s_id"])
    have = canon(got, ["p_id", "s_id"])
    if len(have) != len(want) or not (
            np.array_equal(have["p_id"].to_numpy("int64"),
                           want["p_id"].to_numpy("int64"))
            and np.array_equal(have["s_id"].to_numpy("int64"),
                               want["s_id"].to_numpy("int64"))):
        return [f"geo_radius_join: {len(have)} pairs vs brute force "
                f"{len(want)}"]
    if not np.allclose(have["dist_m"], want["dist_m"], rtol=0, atol=1e-6):
        return ["geo_radius_join.dist_m differs from brute force"]
    return []


def _min_label(n: int, ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """Connected-component min index per node (union-find)."""
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ea.tolist(), eb.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)])


def dbscan_brute(sample: pd.DataFrame, eps_m: float, min_pts: int):
    ids = sample["p_id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    lat = sample["lat"].to_numpy(np.float64)[order]
    lon = sample["lon"].to_numpy(np.float64)[order]
    adj = haversine_m(lat[:, None], lon[:, None],
                      lat[None, :], lon[None, :]) <= eps_m
    nn = adj.sum(axis=1)
    core = nn >= min_pts
    ci = np.flatnonzero(core)
    sub = adj[np.ix_(ci, ci)]
    ea, eb = np.nonzero(np.triu(sub, 1))
    lbl = ci[_min_label(len(ci), ea, eb)]  # min sample index per component
    cluster = np.full(len(ids), -1, dtype=np.int64)
    cluster[ci] = ids[lbl]
    role = np.where(core, "core", "noise").astype(object)
    for i in np.flatnonzero(~core):
        nb = ci[adj[i, ci]]
        if len(nb):
            role[i] = "border"
            cluster[i] = cluster[nb].min()
    return pd.DataFrame({"p_id": ids, "n_neighbors": nn.astype(np.int64),
                         "role": role, "cluster": cluster})


def check_dbscan(got: pd.DataFrame, sample, eps_m, min_pts) -> list[str]:
    want = dbscan_brute(sample, eps_m, min_pts)
    have = canon(got, ["p_id"])
    if len(have) != len(want):
        return [f"dbscan_geo: {len(have)} rows vs brute force {len(want)}"]
    hc = have["cluster"].fillna(-1).to_numpy("int64")
    if not (np.array_equal(have["p_id"].to_numpy("int64"), want["p_id"])
            and np.array_equal(have["n_neighbors"].to_numpy("int64"),
                               want["n_neighbors"])
            and (have["role"].to_numpy() == want["role"].to_numpy()).all()
            and np.array_equal(hc, want["cluster"].to_numpy())):
        return ["dbscan_geo differs from brute force"]
    return []


# ---------------------------------------------------------------------------
# near-duplicate vectors: exact precision, recall against the planted truth
# ---------------------------------------------------------------------------


def check_topk(got: pd.DataFrame, V: np.ndarray, planted: pd.DataFrame,
               k: int, min_recall: float) -> list[str]:
    a = got["a"].to_numpy(np.int64)
    b = got["b"].to_numpy(np.int64)
    if (a == b).any():
        return ["ann_cosine_topk: self pair emitted"]
    nrm = np.linalg.norm(V, axis=1)
    cos = np.einsum("ij,ij->i", V[a], V[b]) / (nrm[a] * nrm[b])
    if not (np.abs(got["sim"].to_numpy(np.float64) - cos)
            <= 0.5e-4 + 1e-9).all():
        return ["ann_cosine_topk: an emitted similarity is not the exact "
                "cosine"]
    g = canon(got, ["a", "rk"])
    ga = g["a"].to_numpy(np.int64)
    gs = g["sim"].to_numpy(np.float64)
    same = ga[1:] == ga[:-1]
    if (g["rk"] > k).any() or (same & (gs[1:] > gs[:-1])).any():
        return ["ann_cosine_topk: ranks are not by descending similarity"]
    if len(g.drop_duplicates(["a", "b"])) != len(g):
        return ["ann_cosine_topk: duplicate (a, b) rows"]
    emitted = set(zip(a.tolist(), b.tolist()))
    want = [(x, y) for x, y in zip(planted["a"], planted["b"])] + \
           [(y, x) for x, y in zip(planted["a"], planted["b"])]
    hit = sum(p in emitted for p in want)
    if want and hit / len(want) < min_recall:
        return [f"ann_cosine_topk: recall {hit}/{len(want)} below "
                f"{min_recall}"]
    return []
