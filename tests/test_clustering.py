"""Lloyd k-means and PQ training (engine/clustering.py): parity vs an
independent numpy implementation on both sides of the Lloyd envelope,
empty-cluster handling, and the map-only assignment plan; the three
DBSCANs vs one brute replay, on both sides of the pair envelope."""

import numpy as np
import pandas as pd
import pytest

from engine import clustering


def _numpy_lloyd(vecs: np.ndarray, ids: np.ndarray, k: int, iters: int):
    """Independent single-threaded Lloyd with the engine's exact
    semantics: floor(x*1024+0.5) quantization, init = k lowest ids,
    score = c.c - 2 x.c, argmin tiebreak lowest cluster, empty clusters
    keep their previous centroid."""
    q = np.floor(vecs.astype(np.float64) * 1024.0 + 0.5)
    order = np.argsort(ids, kind="stable")
    cents = q[order[:k]].copy()
    assign = None
    for it in range(iters):
        scores = (cents * cents).sum(axis=1)[None, :] - 2.0 * (q @ cents.T)
        assign = np.argmin(scores, axis=1)  # argmin takes first on ties
        if it == iters - 1:
            break
        for j in range(k):
            members = q[assign == j]
            if len(members):
                cents[j] = members.sum(axis=0) / len(members)
    return {int(i): int(c) for i, c in zip(ids, assign)}


@pytest.fixture(params=["driver", "distributed"])
def lloyd_side(request, monkeypatch):
    """Force one side of clustering._lloyd's update envelope; the other
    side raises, so a passing case ran this side."""
    def other_side(*_args):
        raise AssertionError(f"{request.param} case left its side")
    if request.param == "driver":
        monkeypatch.setattr(clustering, "MAX_DRIVER_LLOYD_BYTES", 1 << 62)
        monkeypatch.setattr(clustering, "_lloyd_distributed", other_side)
    else:
        monkeypatch.setattr(clustering, "MAX_DRIVER_LLOYD_BYTES", -1)
        monkeypatch.setattr(clustering, "_lloyd_driver", other_side)


def test_kmeans_matches_numpy_oracle(spark, lloyd_side):
    rng = np.random.default_rng(17)
    n, dim, k, iters = 300, 16, 5, 4
    centers = rng.normal(size=(k, dim)) * 3.0
    vecs = (centers[rng.integers(0, k, n)]
            + rng.normal(size=(n, dim)) * 0.5).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    got = {r["vec_id"]: r["cl"]
           for r in clustering.kmeans_lloyd(df, k=k, iters=iters).collect()}
    want = _numpy_lloyd(vecs, ids, k, iters)
    assert got == want
    # the test is only meaningful if iterations actually move assignments
    got1 = {r["vec_id"]: r["cl"]
            for r in clustering.kmeans_lloyd(df, k=k, iters=1).collect()}
    assert got1 != got


def test_kmeans_empty_cluster_keeps_centroid(spark, lloyd_side):
    # ids 0 and 1 quantize identically -> cluster 1 ties everywhere and
    # loses every argmin tiebreak; the update round must keep its
    # centroid (not crash / NaN) and the output must stay total.
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.9, 0.1]), (4, [0.1, 0.9])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    first = {r["vec_id"]: r["cl"]
             for r in clustering.kmeans_lloyd(df, k=3, iters=1).collect()}
    assert 1 not in set(first.values())  # loses every round-0 tiebreak
    out = clustering.kmeans_lloyd(df, k=3, iters=3).collect()
    got = {r["vec_id"]: r["cl"] for r in out}
    assert sorted(got) == [0, 1, 2, 3, 4]
    want = _numpy_lloyd(np.array([r[1] for r in rows], dtype=np.float32),
                        np.array([r[0] for r in rows]), 3, 3)
    assert got == want


def test_kmeans_assignment_is_map_only(spark):
    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = clustering.kmeans_lloyd(df, k=4, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kmeans_validates_args(spark):
    df = spark.createDataFrame([(0, [1.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        clustering.kmeans_lloyd(df, k=0)
    with pytest.raises(ValueError):
        clustering.kmeans_lloyd(df, k=5, iters=2)


def test_kmeans_prune_matches_numpy(spark, lloyd_side):
    """Prune keeps exactly ceil(frac * |cluster|) per cluster, the
    closest-to-centroid by (dist^2, vec_id) — checked against an
    independent numpy replay of the full Lloyd + rank pipeline."""
    import math
    rng = np.random.default_rng(23)
    n, dim, k, iters, frac = 200, 8, 4, 3, 0.4
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    out = clustering.kmeans_prune(df, k=k, iters=iters,
                                  keep_frac=frac).collect()
    # numpy replay
    q = np.floor(vecs.astype(np.float64) * 1024.0 + 0.5)
    cents = q[np.argsort(ids, kind="stable")[:k]].copy()
    assign = None
    for it in range(iters):
        scores = (cents * cents).sum(axis=1)[None, :] - 2.0 * (q @ cents.T)
        assign = np.argmin(scores, axis=1)
        if it == iters - 1:
            break
        for j in range(k):
            m = q[assign == j]
            if len(m):
                cents[j] = m.sum(axis=0) / len(m)
    d2 = (q * q).sum(axis=1) + scores[np.arange(n), assign]
    want = {}
    for j in range(k):
        members = sorted((d2[i], ids[i]) for i in np.where(assign == j)[0])
        cut = math.ceil(frac * len(members))
        for rk, (_, vid) in enumerate(members[:cut], start=1):
            want[int(vid)] = (j, rk)
    got = {r["vec_id"]: (r["cl"], r["rk"]) for r in out}
    assert got == want


def test_pq_codes_match_numpy_lloyd_per_subspace(spark, lloyd_side):
    """PQ is m independent subspace Lloyd chains: each subspace's codes
    equal _numpy_lloyd run on that subspace's columns (same init, same
    iteration count)."""
    from engine import similarity
    rng = np.random.default_rng(31)
    n, dim, m, k, iters = 160, 8, 2, 4, 3
    sub = dim // m
    centers = rng.normal(size=(k, dim)) * 2.0
    vecs = (centers[rng.integers(0, k, n)]
            + rng.normal(size=(n, dim)) * 0.6).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": ids, "embedding": list(map(list, vecs))}))
    codes, _ = similarity.pq_train_encode(df, m=m, n_codes=k, iters=iters,
                                          dim=dim)
    rows = codes.collect()
    for s in range(m):
        got = {r["vec_id"]: r[f"c{s}"] for r in rows}
        want = _numpy_lloyd(vecs[:, s * sub:(s + 1) * sub], ids, k, iters)
        assert got == want
        assert got != _numpy_lloyd(vecs[:, s * sub:(s + 1) * sub], ids,
                                   k, 1)


def _brute_dbscan(pts, near, min_pts):
    """Independent DBSCAN replay with the engine's deterministic rules:
    closed neighborhood ({j : near(p_i, p_j)}, i itself included, over
    the coordinate tuples after each point's id), min-core-id cluster
    label, border -> min neighboring core cluster."""
    ids = [p[0] for p in pts]
    at = {p[0]: p[1:] for p in pts}
    nbr = {i: [j for j in ids if near(at[i], at[j])] for i in ids}
    core = {i for i in ids if len(nbr[i]) >= min_pts}
    # components over core-core eps edges (BFS), label = min core id
    label = {}
    for s in sorted(core):
        if s in label:
            continue
        comp, stack = [], [s]
        seen = {s}
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in nbr[u]:
                if v in core and v not in seen:
                    seen.add(v)
                    stack.append(v)
        m = min(comp)
        for u in comp:
            label[u] = m
    out = {}
    for i in ids:
        if i in core:
            out[i] = (len(nbr[i]), "core", label[i])
        else:
            cand = [label[j] for j in nbr[i] if j in core and j != i]
            if cand:
                out[i] = (len(nbr[i]), "border", min(cand))
            else:
                out[i] = (len(nbr[i]), "noise", None)
    return out


def _planar(eps):
    return lambda a, b: (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2 <= eps * eps


@pytest.fixture(params=["driver", "distributed"])
def dbscan_side(request, monkeypatch):
    """Force one side of clustering._dbscan_from_pairs through its pair
    envelope; the other side raises, so a passing case ran this side."""
    def other_side(*_args):
        raise AssertionError(f"{request.param} case left its side")
    if request.param == "driver":
        monkeypatch.setattr(clustering, "DBSCAN_DRIVER_MAX_PAIRS", 1 << 62)
        monkeypatch.setattr(clustering, "_dbscan_distributed", other_side)
    else:
        monkeypatch.setattr(clustering, "DBSCAN_DRIVER_MAX_PAIRS", -1)
        monkeypatch.setattr(clustering, "_dbscan_driver", other_side)


def test_dbscan_grid_matches_brute(spark, dbscan_side):
    rng = np.random.default_rng(7)
    # two planted blobs + uniform noise
    pts = []
    k = 0
    for cx, cy in ((10, 10), (60, 55)):
        for _ in range(25):
            pts.append((k, cx + int(rng.integers(-4, 5)),
                        cy + int(rng.integers(-4, 5))))
            k += 1
    for _ in range(30):
        pts.append((k, int(rng.integers(0, 100)), int(rng.integers(0, 100))))
        k += 1
    # planted chain: 7 stacked cores, a bridge core, and a guaranteed
    # border point that sees only the bridge (n=2 < min_pts)
    for x, y in [(200, 200)] * 7 + [(205, 200), (210, 200)]:
        pts.append((k, x, y))
        k += 1
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["i", "x", "y"]))
    out = clustering.dbscan_grid(df, "i", "x", "y", eps=5, min_pts=6)
    got = {r["i"]: (r["n_neighbors"], r["role"], r["cluster"])
           for r in out.collect()}
    want = _brute_dbscan(pts, _planar(5), 6)
    assert got == want
    roles = {v[1] for v in got.values()}
    assert roles == {"core", "border", "noise"}
    # the two blobs land in (at least) two distinct clusters
    assert len({v[2] for v in got.values() if v[2] is not None}) >= 2
    with pytest.raises(ValueError):
        clustering.dbscan_grid(df, "i", "x", "y", eps=5, min_pts=0)


def test_dbscan_geo_matches_brute(spark, dbscan_side):
    """Geodesic DBSCAN equals the numpy-haversine brute replay on a
    layout the planar variant cannot handle: a cluster straddling the
    antimeridian, a high-latitude blob, a core chain and noise.  All
    planted distances sit far from the eps boundary, so the known
    1-ulp JVM-vs-libm trig divergence cannot flip any decision."""
    rng = np.random.default_rng(13)
    pts, k = [], 0
    # antimeridian blob: lons near +179.9 / -179.9 are ~20 km apart
    for _ in range(8):
        lon = 179.9 if rng.integers(2) else -179.9
        pts.append((k, 0.0 + float(rng.integers(-5, 6)) / 100.0, lon))
        k += 1
    # high-latitude blob (lon spacing shrinks by cos(70 deg))
    for _ in range(8):
        pts.append((k, 70.0 + float(rng.integers(-5, 6)) / 100.0,
                    10.0 + float(rng.integers(-5, 6)) / 10.0))
        k += 1
    # chain: cores every 50 km along the equator + a far border
    for j in range(5):
        pts.append((k, 0.0, 10.0 + 0.45 * j))
        pts.append((k + 1, 0.05, 10.0 + 0.45 * j))
        pts.append((k + 2, -0.05, 10.0 + 0.45 * j))
        k += 3
    # isolated noise
    pts += [(k, -45.0, 60.0), (k + 1, 30.0, -120.0)]
    k += 2
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["i", "lat",
                                                          "lon"]))
    out = clustering.dbscan_geo(df, "i", "lat", "lon",
                                eps_m=60000.0, min_pts=3)
    got = {r["i"]: (r["n_neighbors"], r["role"], r["cluster"])
           for r in out.collect()}
    from engine.geo import haversine_m
    want = _brute_dbscan(
        pts, lambda a, b: haversine_m(a[0], a[1], b[0], b[1]) <= 60000.0, 3)
    assert got == want
    # the antimeridian blob is ONE cluster despite the lon seam
    am = {got[i][2] for i in range(8)}
    assert len(am) == 1 and None not in am
    assert {v[1] for v in got.values()} == {"core", "border", "noise"} \
        or {v[1] for v in got.values()} >= {"core", "noise"}
    with pytest.raises(ValueError):
        clustering.dbscan_geo(df, "i", "lat", "lon", eps_m=1000.0,
                              min_pts=0)


def test_st_dbscan_matches_brute(spark, dbscan_side):
    rng = np.random.default_rng(17)
    pts, k = [], 0
    # blob A: tight in space AND time
    for _ in range(12):
        pts.append((k, 10 + int(rng.integers(-3, 4)),
                    10 + int(rng.integers(-3, 4)),
                    1000 + int(rng.integers(-40, 41))))
        k += 1
    # blob B: SAME coordinates as A but revisited far outside eps_t —
    # plain DBSCAN would merge these; ST-DBSCAN must NOT
    for _ in range(12):
        pts.append((k, 10 + int(rng.integers(-3, 4)),
                    10 + int(rng.integers(-3, 4)),
                    90000 + int(rng.integers(-40, 41))))
        k += 1
    # temporal chain: spatially glued, each step eps_t-adjacent only to
    # its neighbors -> long chainy component (the max_iters stressor)
    for j in range(10):
        for _ in range(2):
            pts.append((k, 200, 200, 5000 + 90 * j)); k += 1
            pts.append((k, 201, 200, 5000 + 90 * j)); k += 1
    # uniform noise
    for _ in range(20):
        pts.append((k, int(rng.integers(0, 300)),
                    int(rng.integers(0, 300)),
                    int(rng.integers(0, 100000))))
        k += 1
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["i", "x", "y", "t"]))
    out = clustering.st_dbscan(df, "i", "x", "y", "t",
                               eps=5, eps_t=100, min_pts=5)
    got = {r["i"]: (r["n_neighbors"], r["role"], r["cluster"])
           for r in out.collect()}
    want = _brute_dbscan(
        pts, lambda a, b: _planar(5)(a, b) and abs(b[2] - a[2]) <= 100, 5)
    assert got == want
    # the revisit property: blob A and blob B share space but NOT cluster
    la = {got[i][2] for i in range(12) if got[i][2] is not None}
    lb = {got[i][2] for i in range(12, 24) if got[i][2] is not None}
    assert la and lb and not (la & lb)
    with pytest.raises(ValueError):
        clustering.st_dbscan(df, "i", "x", "y", "t",
                             eps=5, eps_t=100, min_pts=0)


def test_dbscan_empty_and_all_noise(spark, dbscan_side):
    """Both sides of the DBSCAN tail keep the output schema on an empty
    input and label every point noise (NULL cluster) when min_pts
    exceeds every neighborhood."""
    schema = [("i", "bigint"), ("n_neighbors", "bigint"),
              ("role", "string"), ("cluster", "bigint")]
    empty = spark.createDataFrame([], "i long, x long, y long")
    out = clustering.dbscan_grid(empty, "i", "x", "y", eps=5, min_pts=2)
    assert out.dtypes == schema
    assert out.count() == 0
    # neighborhoods of at most 2 points
    pts = [(0, 0, 0), (1, 3, 0), (2, 100, 100), (3, 103, 100), (4, 500, 0)]
    df = spark.createDataFrame(pts, "i long, x long, y long")
    out = clustering.dbscan_grid(df, "i", "x", "y", eps=5, min_pts=3)
    assert out.dtypes == schema
    rows = out.collect()
    assert sorted(r["i"] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r["role"] == "noise" and r["cluster"] is None for r in rows)
