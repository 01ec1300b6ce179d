"""Tiling engine + PIP join tests (SURVEY.md §2.8, §2.3 J4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import geo, ops, tiles, trace_prep
from engine.config import DEFAULT
from engine.datagen import gen_activity_polygons


@pytest.fixture(scope="module")
def sites(spark, unit_pages_sdf):
    gp = trace_prep.prep_points(trace_prep.extract_points(unit_pages_sdf))
    return trace_prep.interpolate_sites(gp).cache()


@pytest.fixture(scope="module")
def geopoints(spark, unit_pages_sdf):
    return trace_prep.geopoints(unit_pages_sdf).cache()


def test_cell_density_mass_conservation(sites):
    total_sites = sites.agg(F.sum("mass_s")).collect()[0][0]
    dens = tiles.cell_density(sites)
    total_cells = dens.agg(F.sum("mass_s")).collect()[0][0]
    assert abs(total_sites - total_cells) < 1e-6
    # cells are level-tagged correctly
    cells = dens.limit(100).toPandas()["cell_id"].to_numpy(np.int64)
    assert (geo.cell_level(cells) == DEFAULT.cell_level).all()


def test_kring_smooth_conserves_mass(sites):
    dens = tiles.cell_density(sites)
    sm = tiles.kring_smooth(dens)
    a = dens.agg(F.sum("mass_s")).collect()[0][0]
    b = sm.agg(F.sum("mass_s")).collect()[0][0]
    assert abs(a - b) / a < 1e-9


def test_rollup_pyramid_levels(sites):
    dens = tiles.cell_density(sites).cache()
    pyr = tiles.rollup_pyramid(dens).cache()
    pdf = (pyr.groupBy("level").agg(F.sum("mass_s").alias("m"),
                                    F.count(F.lit(1)).alias("n"))
           .toPandas().set_index("level").sort_index())
    # mass conserved at every level; coarser level -> fewer cells
    base = pdf["m"].iloc[-1]
    assert np.allclose(pdf["m"], base, atol=1e-5)
    assert (pdf["n"].diff().dropna() > 0).all()  # 10 < 12 < 14 < 16 cells
    # parent consistency: every level-14 cell is the bit-math parent of its
    # level-16 children
    c16 = pyr.filter(F.col("level") == 16).select("cell_id").toPandas()
    c14 = set(pyr.filter(F.col("level") == 14).select("cell_id")
              .toPandas()["cell_id"])
    parents = geo.cell_parent(c16["cell_id"].to_numpy(np.int64), 14)
    assert set(parents.tolist()) == c14


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("quantized", [True, False])
def test_rollup_pyramid_matches_pandas_oracle(sites, salted, quantized):
    """Every (level, cell) mass equals the pandas sum of the base-cell
    site masses under geo.cell_parent: exact for integer-ms masses, to
    1e-9 relative for float seconds."""
    s = (sites.withColumn("mass_s", F.floor(F.col("mass_s") * 1000.0))
         if quantized else sites)
    pyr = tiles.rollup_pyramid(tiles.cell_density(s, salted=salted))
    assert pyr.columns == ["level", "cell_id", "mass_s"]
    assert pyr.schema["level"].dataType == T.IntegerType()
    assert pyr.schema["cell_id"].dataType == T.LongType()
    got = (pyr.toPandas().set_index(["level", "cell_id"])["mass_s"]
           .sort_index())
    pts = tiles.site_cells(s).select("cell_id", "mass_s").toPandas()
    cells = pts["cell_id"].to_numpy(np.int64)
    want = pd.concat([
        pts.assign(level=lvl,
                   cell_id=cells if lvl == DEFAULT.cell_level
                   else geo.cell_parent(cells, lvl))
        .groupby(["level", "cell_id"])["mass_s"].sum()
        for lvl in DEFAULT.tile_levels]).sort_index()
    assert got.index.equals(want.index)
    if quantized:
        assert (got.to_numpy() == want.to_numpy()).all()
    else:
        assert np.allclose(got.to_numpy(), want.to_numpy(), rtol=1e-9,
                           atol=0)


def test_extract_components_near_stops(spark, sites, unit_pages):
    _, stops, _ = unit_pages
    dens = tiles.cell_density(sites)
    comp = tiles.extract_components(dens, DEFAULT.kde_time_threshold_s).cache()
    pdf = comp.toPandas()
    assert len(pdf) > 0
    # every component's mass-weighted center is within ~200 m of a planted stop
    lat, lon = geo.cell_center_latlng(pdf["cell_id"].to_numpy(np.int64),
                                      DEFAULT.cell_level)
    pdf["lat"], pdf["lon"] = lat, lon
    agg = pdf.groupby("component_id").apply(
        lambda g: pd.Series({
            "lat": (g["lat"] * g["mass_s"]).sum() / g["mass_s"].sum(),
            "lon": (g["lon"] * g["mass_s"]).sum() / g["mass_s"].sum()}),
        include_groups=False)
    for _, r in agg.iterrows():
        d = geo.haversine_m(r["lat"], r["lon"], stops["lat"], stops["lon"])
        assert d.min() < 200.0
    # labels are stable cell ids: components disjoint
    assert pdf.groupby("cell_id").size().max() == 1


def test_extract_components_mesh_block(spark):
    """A contiguous 170-cell level-16 block (a 0.016 deg square sampled
    every 0.0004 deg from (43.60, -79.45)) is one mesh-shaped component
    labelled with its minimum cell id."""
    g = np.arange(40) * 0.0004
    lat, lon = np.meshgrid(43.60 + g, -79.45 + g, indexing="ij")
    cells = np.unique(geo.cell_encode(lat.ravel(), lon.ravel(),
                                      DEFAULT.cell_level))
    assert len(cells) == 170
    sites = spark.createDataFrame(pd.DataFrame({
        "site_lat": lat.ravel(), "site_lon": lon.ravel(),
        "mass_s": np.full(lat.size, DEFAULT.kde_time_threshold_s)}))
    pdf = tiles.extract_components(tiles.cell_density(sites),
                                   DEFAULT.kde_time_threshold_s).toPandas()
    assert sorted(pdf["cell_id"]) == cells.tolist()
    assert set(pdf["component_id"]) == {int(cells.min())}


def _polygons_sdf(spark, unit_pages):
    _, stops, _ = unit_pages
    polys = gen_activity_polygons(stops)
    schema = T.StructType([
        T.StructField("polygon_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    return spark.createDataFrame(polys, schema=schema)


def test_pip_join_matches_bruteforce(spark, geopoints, unit_pages):
    polys = _polygons_sdf(spark, unit_pages)
    covered = tiles.with_cell_cover(polys).cache()
    got = (tiles.pip_join(geopoints, covered)
           .toPandas().sort_values(["url", "polygon_id"]).reset_index(drop=True))

    # brute force oracle: every point against every polygon ring
    pts = geopoints.select("url", "lat", "lon").toPandas()
    polys_pd = covered.select("polygon_id", "ring").toPandas()
    rows = []
    for _, pr in polys_pd.iterrows():
        ring = np.array(list(pr["ring"]), dtype=np.float64)
        inside = geo.points_in_ring(pts["lon"].to_numpy(),
                                    pts["lat"].to_numpy(), ring)
        for u in pts.loc[inside, "url"]:
            rows.append((u, pr["polygon_id"]))
    want = (pd.DataFrame(rows, columns=["url", "polygon_id"])
            .sort_values(["url", "polygon_id"]).reset_index(drop=True))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_salted_join_equals_plain_join(spark, geopoints):
    dim = spark.createDataFrame(
        pd.DataFrame({"host": [f"host{h:04d}.example" for h in range(8)],
                      "grp": list("ABABABAB")}))
    big = geopoints.select("host", "url")
    plain = big.join(dim, "host").select("url", "grp")
    salted = ops.salted_join(big, dim, "host", salt=4).select("url", "grp")
    a = plain.toPandas().sort_values(["url", "grp"]).reset_index(drop=True)
    b = salted.toPandas().sort_values(["url", "grp"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_salted_cell_density_hot_cell(spark):
    """Plant a hot cell (one coordinate dominating 95% of rows) and assert
    the salted two-stage aggregation produces the same densities as the
    plain path, with the partial stage bounded per (cell, salt) key."""
    n_hot, n_cold = 20_000, 1_000
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "host": ["h.example"] * (n_hot + n_cold),
        "subset_id": np.zeros(n_hot + n_cold, dtype=np.int32),
        "site_lat": np.r_[np.full(n_hot, 43.6532),
                          43.6532 + rng.uniform(-0.5, 0.5, n_cold)],
        "site_lon": np.r_[np.full(n_hot, -79.3832),
                          -79.3832 + rng.uniform(-0.5, 0.5, n_cold)],
        "mass_s": rng.integers(1, 100, n_hot + n_cold).astype(np.float64),
    })
    sdf = spark.createDataFrame(pdf)
    a = (tiles.cell_density(sdf).toPandas()
         .sort_values("cell_id").reset_index(drop=True))
    b = (tiles.cell_density(sdf, salted=True).toPandas()
         .sort_values("cell_id").reset_index(drop=True))
    np.testing.assert_array_equal(a["cell_id"], b["cell_id"])
    np.testing.assert_allclose(a["mass_s"], b["mass_s"], rtol=1e-12)
    # the hot cell really is hot
    assert a["mass_s"].max() / a["mass_s"].sum() > 0.9
    # partial stage fan-out: hot cell splits across salt buckets
    from engine.tiles import site_cells
    parts = (site_cells(sdf)
             .withColumn("_salt", F.pmod(F.xxhash64("site_lat", "site_lon",
                                                    "mass_s"),
                                         F.lit(DEFAULT.salt_buckets)))
             .groupBy("cell_id", "_salt").count())
    hot_cell = a.loc[a["mass_s"].idxmax(), "cell_id"]
    hot_parts = parts.filter(F.col("cell_id") == int(hot_cell)).toPandas()
    assert len(hot_parts) == DEFAULT.salt_buckets
    assert hot_parts["count"].max() < n_hot  # no single-bucket collapse


def test_salted_cell_density_equals_plain(sites):
    a = (tiles.cell_density(sites).toPandas()
         .sort_values("cell_id").reset_index(drop=True))
    b = (tiles.cell_density(sites, salted=True).toPandas()
         .sort_values("cell_id").reset_index(drop=True))
    assert len(a) == len(b)
    np.testing.assert_array_equal(a["cell_id"], b["cell_id"])
    np.testing.assert_allclose(a["mass_s"], b["mass_s"], atol=1e-6)


def test_hotspot_gi_matches_numpy(spark):
    rng = np.random.default_rng(23)
    # dense blob + sparse background over a small lattice
    xs = list(rng.integers(0, 100, 200)) + list(rng.integers(40, 60, 300))
    ys = list(rng.integers(0, 100, 200)) + list(rng.integers(40, 60, 300))
    df = spark.createDataFrame(
        pd.DataFrame({"x": [int(v) for v in xs],
                      "y": [int(v) for v in ys]}))
    got = {(r["cx"], r["cy"]): r
           for r in tiles.hotspot_gi(df, "x", "y", 10).collect()}
    # independent replay
    cells = {}
    for x, y in zip(xs, ys):
        c = (x // 10, y // 10)
        cells[c] = cells.get(c, 0) + 1
    n = len(cells)
    s = sum(cells.values())
    ss = sum(v * v for v in cells.values())
    import math
    for (cx, cy), v in cells.items():
        nb = [(cx + i, cy + j) for i in (-1, 0, 1) for j in (-1, 0, 1)]
        occ = [c for c in nb if c in cells]
        w_cnt = len(occ)
        w_sum = sum(cells[c] for c in occ)
        r = got[(cx, cy)]
        assert (r["v"], r["w_cnt"], r["w_sum"]) == (v, w_cnt, w_sum)
        if n > 1 and n * ss - s * s > 0 and w_cnt < n:
            want = (float(n * w_sum - w_cnt * s)
                    / (math.sqrt(float(n * ss - s * s))
                       * math.sqrt(float(n * w_cnt - w_cnt * w_cnt)
                                   / float(n - 1))))
            assert r["z"] == want
    # the planted blob's center cell scores hotter than the background
    hot = got[(4, 4)]["z"] if (4, 4) in got else got[(5, 5)]["z"]
    cold = min(r["z"] for r in got.values() if r["z"] is not None)
    assert hot > 0 > cold
    with pytest.raises(ValueError):
        tiles.hotspot_gi(df, "x", "y", 0)


def test_focal_stats_matches_brute(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from engine import tiles
    rng = np.random.default_rng(67)
    cells = {}
    for _ in range(60):
        cells[("g", int(rng.integers(0, 8)), int(rng.integers(0, 8)))] = \
            int(rng.integers(-50, 50))
    # isolated cell (annulus has NO neighbors), negative values, a
    # second key that must not bleed into the first
    cells[("g", 100, 100)] = 7
    cells[("h", 0, 0)] = 1000
    rows = [(k, cx, cy, v) for (k, cx, cy), v in cells.items()]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "cx", "cy", "v"]))
    for include_self in (True, False):
        got = {(r["k"], r["cx"], r["cy"]):
               (r["v"], r["f_sum"], r["f_cnt"], r["f_min"], r["f_max"])
               for r in tiles.focal_stats(
                   df, ["k"], "cx", "cy", "v",
                   include_self=include_self).collect()}
        assert len(got) == len(cells)
        for (k, cx, cy), v in cells.items():
            nb = [cells[(k, cx + i, cy + j)]
                  for i in (-1, 0, 1) for j in (-1, 0, 1)
                  if (include_self or (i, j) != (0, 0))
                  and (k, cx + i, cy + j) in cells]
            want = ((v, sum(nb), len(nb), min(nb), max(nb)) if nb
                    else (v, 0, 0, None, None))
            assert got[(k, cx, cy)] == want, (k, cx, cy, include_self)
    # annulus of the isolated cell: zero neighbors, NULL min/max
    got_ring = {(r["k"], r["cx"], r["cy"]): r["f_cnt"]
                for r in tiles.focal_stats(
                    df, ["k"], "cx", "cy", "v",
                    include_self=False).collect()}
    assert got_ring[("g", 100, 100)] == 0
    import pytest as _pt
    dup = df.union(df.limit(1))
    with _pt.raises(ValueError):
        tiles.focal_stats(dup, ["k"], "cx", "cy", "v")


def test_zonal_stats_matches_brute(spark):
    import numpy as np
    import pandas as pd
    import pytest as _pt
    from pyspark.sql import functions as F
    from engine import tiles
    rng = np.random.default_rng(113)
    cells = {}
    for _ in range(80):
        cells[(int(rng.integers(0, 20)), int(rng.integers(0, 20)))] = \
            int(rng.integers(-30, 70))
    ras = spark.createDataFrame(pd.DataFrame(
        [(cx, cy, v) for (cx, cy), v in cells.items()],
        columns=["cx", "cy", "v"]))
    # zones: two OVERLAPPING, one empty far zone, one 1-cell zone
    zones = [(0, 0, 0, 10, 10), (1, 5, 5, 15, 15),
             (2, 500, 500, 510, 510), (3, 3, 3, 3, 3)]
    zdf = spark.createDataFrame(pd.DataFrame(
        zones, columns=["zone_id", "zx1", "zy1", "zx2", "zy2"]))
    got = {r["zone_id"]: (r["z_cnt"], r["z_sum"], r["z_min"], r["z_max"])
           for r in tiles.zonal_stats(ras, zdf, "cx", "cy", "v",
                                      cell=4).collect()}
    assert len(got) == len(zones)
    for zid, x1, y1, x2, y2 in zones:
        vs = [v for (cx, cy), v in cells.items()
              if x1 <= cx <= x2 and y1 <= cy <= y2]
        want = ((len(vs), sum(vs), min(vs), max(vs)) if vs
                else (0, 0, None, None))
        assert got[zid] == want, zid
    assert got[2] == (0, 0, None, None)
    with _pt.raises(ValueError):
        tiles.zonal_stats(ras, zdf.limit(0), "cx", "cy", "v")
    inv = zdf.withColumn("zx2", F.col("zx1") - 1)
    with _pt.raises(ValueError):
        tiles.zonal_stats(ras, inv, "cx", "cy", "v")
    with _pt.raises(ValueError):
        tiles.zonal_stats(ras, zdf, "cx", "cy", "v", cell=1,
                          max_cells=3)


@pytest.mark.parametrize("box,msg", [
    ((1 << 62, 1 << 62, -(1 << 62), -(1 << 62)), "inverted zone box"),
    ((-(1 << 61), -(1 << 61), 1 << 61, 1 << 61), "covers .* grid cells"),
], ids=["inverted", "oversized"])
def test_zonal_stats_extreme_box_raises_under_ansi(spark, box, msg):
    """Zone boxes whose grid-cell count overflows int64 must raise the
    contract ValueError, not an ANSI ArithmeticException from the
    cover checks."""
    import pandas as pd
    from engine import tiles
    ras = spark.createDataFrame(pd.DataFrame(
        [(0, 0, 1)], columns=["cx", "cy", "v"]))
    zdf = spark.createDataFrame(pd.DataFrame(
        [(0, *box)], columns=["zone_id", "zx1", "zy1", "zx2", "zy2"]))
    with pytest.raises(ValueError, match=msg):
        tiles.zonal_stats(ras, zdf, "cx", "cy", "v", cell=1)


def test_zonal_stats_combined_budget_raises(spark):
    """max_zones and max_cells alone admit a huge exploded broadcast;
    the COMBINED cover budget must raise before exploding."""
    import pandas as pd
    import pytest as _pt
    from engine import tiles
    ras = spark.createDataFrame(pd.DataFrame(
        [(0, 0, 1)], columns=["cx", "cy", "v"]))
    # 2048 zones x 51*51 = 2601 cover cells each (cell=1) -> 5.3M > 2^22
    # total, while each zone stays under max_cells=4096
    zones = [(i, i * 100, 0, i * 100 + 50, 50) for i in range(2048)]
    zdf = spark.createDataFrame(pd.DataFrame(
        zones, columns=["zone_id", "zx1", "zy1", "zx2", "zy2"]))
    with _pt.raises(ValueError, match="in total"):
        tiles.zonal_stats(ras, zdf, "cx", "cy", "v", cell=1)
