"""Reference-parity gate (SURVEY.md §5.2.1, FIXTURES.md §3): the Spark
engine must match the independent single-threaded oracle row-for-row on the
unit fixture — locations (A2-A5), kNN assignment (J1), episodes (W3-W5).

Discrete columns are compared exactly; float columns to 1e-6 (the oracle
intentionally uses different accumulation order, SURVEY.md §5.2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import episodes as ep
from engine import locations as loc
from engine import trace_prep
from engine.config import DEFAULT
from tests import oracle_ref


@pytest.fixture(scope="module")
def oracle_out(unit_pages):
    pages, stops, visits = unit_pages
    return oracle_ref.run_pipeline(pages, DEFAULT)


@pytest.fixture(scope="module")
def engine_out(spark, unit_pages_sdf):
    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    locations = loc.detect_locations(gp, DEFAULT).cache()
    assigned = ep.knn_assign(gp, locations, DEFAULT)
    episodes = ep.build_episodes(assigned, DEFAULT)
    return (gp.toPandas(), locations.toPandas(), assigned.toPandas(),
            episodes.toPandas())


def test_geopoints_match_oracle(engine_out, oracle_out):
    gp_e = engine_out[0].sort_values("url").reset_index(drop=True)
    gp_o = oracle_out[0].sort_values("url").reset_index(drop=True)
    assert len(gp_e) == len(gp_o)
    assert (gp_e["url"].to_numpy() == gp_o["url"].to_numpy()).all()
    np.testing.assert_array_equal(gp_e["subset_id"].to_numpy("int64"),
                                  gp_o["subset_id"].to_numpy("int64"))
    np.testing.assert_allclose(gp_e["weight_s"], gp_o["weight_s"], atol=1e-6)


def test_locations_match_oracle(engine_out, oracle_out):
    le = engine_out[1].sort_values(["host", "location_id"]).reset_index(drop=True)
    lo = oracle_out[1].sort_values(["host", "location_id"]).reset_index(drop=True)
    assert len(le) == len(lo), (len(le), len(lo))
    pd.testing.assert_series_equal(le["host"], lo["host"], check_dtype=False)
    np.testing.assert_array_equal(le["location_id"].to_numpy("int64"),
                                  lo["location_id"].to_numpy("int64"))
    np.testing.assert_array_equal(le["n_cells"].to_numpy("int64"),
                                  lo["n_cells"].to_numpy("int64"))
    np.testing.assert_allclose(le["lat"], lo["lat"], atol=1e-9)
    np.testing.assert_allclose(le["lon"], lo["lon"], atol=1e-9)
    np.testing.assert_allclose(le["dwell_s"], lo["dwell_s"], atol=1e-5)


def test_knn_assignment_matches_oracle(engine_out, oracle_out):
    ae = (engine_out[2][["url", "location_id"]]
          .sort_values("url").reset_index(drop=True))
    ao = (oracle_out[0][["url", "location_id"]]
          .sort_values("url").reset_index(drop=True))
    assert len(ae) == len(ao)
    e = ae["location_id"].to_numpy("float64")
    o = ao["location_id"].astype("float64").to_numpy()
    both_nan = np.isnan(e) & np.isnan(o)
    assert (both_nan | (e == o)).all(), (
        f"{int((~(both_nan | (e == o))).sum())} assignment mismatches")


def test_episodes_match_oracle(engine_out, oracle_out):
    ee = engine_out[3].sort_values(["host", "seq"]).reset_index(drop=True)
    eo = oracle_out[2].sort_values(["host", "seq"]).reset_index(drop=True)
    assert len(ee) == len(eo), (len(ee), len(eo))
    pd.testing.assert_series_equal(ee["host"], eo["host"], check_dtype=False)
    np.testing.assert_array_equal(ee["seq"].to_numpy("int64"),
                                  eo["seq"].to_numpy("int64"))
    assert (ee["kind"].to_numpy() == eo["kind"].to_numpy()).all()
    el = ee["location_id"].astype("float64").to_numpy()
    ol = eo["location_id"].astype("float64").to_numpy()
    assert ((np.isnan(el) & np.isnan(ol)) | (el == ol)).all()
    np.testing.assert_allclose(
        ee["start_ts"].to_numpy("datetime64[us]").astype("int64") / 1e6,
        eo["start_s"], atol=1e-6)
    np.testing.assert_allclose(
        ee["end_ts"].to_numpy("datetime64[us]").astype("int64") / 1e6,
        eo["end_s"], atol=1e-6)


def test_locations_near_planted_stops(engine_out, unit_pages):
    """Semantic sanity: every detected location lies within ~40 m of a
    planted stop center (KDE centroid of sigma=10 m dwell cloud)."""
    from engine.geo import haversine_m
    _, stops, _ = unit_pages
    locs = engine_out[1]
    assert len(locs) > 0
    merged = locs.merge(stops, on="host", suffixes=("", "_stop"))
    d = haversine_m(merged["lat"], merged["lon"],
                    merged["lat_stop"], merged["lon_stop"])
    best = merged.assign(d=d).groupby(["host", "location_id"])["d"].min()
    assert best.max() < 40.0, best.sort_values().tail()


def test_episode_time_partition_property(engine_out):
    """Episodes exactly partition each host's observed span (§5.2.3)."""
    eps = engine_out[3].sort_values(["host", "seq"])
    for host, g in eps.groupby("host"):
        s = g["start_ts"].to_numpy("datetime64[us]")
        e = g["end_ts"].to_numpy("datetime64[us]")
        assert (s[1:] == e[:-1]).all(), host  # contiguous, incl. unknown gaps
        assert (e >= s).all()


def test_detect_locations_chunked_matches_wholehost(spark, unit_pages_sdf):
    """The chunk-parallel detect_locations (mapInArrow bin -> native merge
    -> grid kernel) must reproduce the whole-host kernel BYTE-exactly:
    float-mode site mass is snapped to integer microseconds at the site
    level (locations.FLOAT_MASS_SCALE) and _kde_from_grid canonically
    re-sorts its cells, so merge order cannot perturb any accumulation."""
    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    a = (loc.detect_locations(gp, DEFAULT).toPandas()
         .sort_values(["host", "location_id"]).reset_index(drop=True))
    b = (loc.detect_locations_wholehost(gp, DEFAULT).toPandas()
         .sort_values(["host", "location_id"]).reset_index(drop=True))
    assert a.equals(b)  # byte-exact across distribution strategies


def test_detect_locations_quant_mode(spark, unit_pages_sdf):
    """Quant (bit-portable oracle) mode: (a) wholehost and chunk-parallel
    paths are BYTE-identical (every aggregation is an exact-integer sum,
    so merge order cannot matter — stronger than the float path's 1e-9
    tolerance); (b) quant results track the production Gaussian float
    mode closely (same A2-A5 lattice, integer-rounded stencil weights and
    ms-floored site mass are the only differences)."""
    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    q1 = (loc.detect_locations_wholehost(gp, DEFAULT, quant=True).toPandas()
          .sort_values(["host", "location_id"]).reset_index(drop=True))
    q2 = (loc.detect_locations(gp, DEFAULT, strategy="chunked", quant=True)
          .toPandas()
          .sort_values(["host", "location_id"]).reset_index(drop=True))
    assert q1.equals(q2)  # byte-exact across distribution strategies
    g = (loc.detect_locations_wholehost(gp, DEFAULT).toPandas()
         .sort_values(["host", "location_id"]).reset_index(drop=True))
    assert len(q1) == len(g)
    assert (q1["host"] == g["host"]).all()
    np.testing.assert_allclose(q1["lat"], g["lat"], atol=1e-7)
    np.testing.assert_allclose(q1["lon"], g["lon"], atol=1e-7)
    np.testing.assert_allclose(q1["dwell_s"], g["dwell_s"], rtol=1e-3)


def test_knn_collected_matches_join_form(spark, unit_pages_sdf):
    """knn_assign_collected (driver-collected closure index, zero point-set
    exchanges) must reproduce knn_assign (cell-cover join) exactly:
    same location_id per point, distances equal to float tolerance (the two
    paths compute haversine in JVM exprs vs numpy)."""
    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    locations = loc.detect_locations(gp, DEFAULT).cache()
    a = (ep.knn_assign(gp, locations, DEFAULT)
         .select("url", "location_id", "loc_dist_m")
         .toPandas().sort_values("url").reset_index(drop=True))
    b = (ep.knn_assign_collected(gp, locations, DEFAULT)
         .select("url", "location_id", "loc_dist_m")
         .toPandas().sort_values("url").reset_index(drop=True))
    assert len(a) == len(b)
    la = a["location_id"].to_numpy("float64")
    lb = b["location_id"].astype("float64").to_numpy()
    nn = np.isnan(la) & np.isnan(lb)
    assert (nn | (la == lb)).all(), (
        f"{int((~(nn | (la == lb))).sum())} assignment mismatches")
    da = a["loc_dist_m"].to_numpy("float64")
    db = b["loc_dist_m"].to_numpy("float64")
    nn = np.isnan(da) & np.isnan(db)
    np.testing.assert_allclose(da[~nn], db[~nn], atol=1e-6)


def test_knn_auto_enforces_broadcast_envelope(spark, unit_pages_sdf):
    """knn_assign_auto must fall back to the cell-cover JOIN plan when the
    location table exceeds cfg.knn_broadcast_max_locations, and the
    collected form must refuse (raise) rather than collect past the
    ceiling — the latent 100x-scale footgun the round-2 verdict flagged."""
    import dataclasses

    import pytest

    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    locations = loc.detect_locations(gp, DEFAULT).cache()
    n = locations.count()
    assert n > 2
    tiny = dataclasses.replace(DEFAULT, knn_broadcast_max_locations=2)
    over = ep.knn_assign_auto(gp, locations, tiny)
    assert over.knn_strategy == "join"
    # the join plan carries the candidate-join aggregation, not the UDF
    assert "min(struct" in over._jdf.queryExecution().optimizedPlan().toString()
    with pytest.raises(ValueError, match="knn_broadcast_max_locations"):
        ep.knn_assign_collected(gp, locations, tiny)
    under = ep.knn_assign_auto(gp, locations, DEFAULT, n_locations_hint=n)
    assert under.knn_strategy == "collected"


def test_build_episodes_presorted_parity(spark, unit_pages_sdf):
    """build_episodes(presorted=True) over the map-only collected-kNN path
    (no point-stream reshuffle) must reproduce the repartition form
    byte-for-byte."""
    gp = trace_prep.geopoints(unit_pages_sdf, DEFAULT).cache()
    locations = loc.detect_locations(gp, DEFAULT).cache()
    assigned = ep.knn_assign_collected(gp, locations, DEFAULT)
    cols = ["host", "seq", "start_ts", "end_ts", "kind", "location_id"]
    a = (ep.build_episodes(assigned, DEFAULT, presorted=True)
         .toPandas().sort_values(["host", "seq"]).reset_index(drop=True))
    b = (ep.build_episodes(assigned, DEFAULT)
         .toPandas().sort_values(["host", "seq"]).reset_index(drop=True))
    assert len(a) == len(b) and len(a) > 0
    for c in cols:
        la, lb = a[c].to_numpy(), b[c].to_numpy()
        if la.dtype.kind == "f":
            nn = np.isnan(la) & np.isnan(lb)
            assert (nn | (la == lb)).all(), c
        else:
            assert (pd.isna(la) == pd.isna(lb)).all(), c
            m = ~pd.isna(la)
            assert (la[m] == lb[m]).all(), c


def test_bin_stream_many_hosts_per_batch():
    """The chunk-parallel binning kernel bins a batch holding 2^17 + 1
    distinct hosts (single-point hosts are common at crawl scale): the
    last host's partial masses equal binning that host alone."""
    import pyarrow as pa

    n_single = 1 << 17
    lat = np.r_[np.full(n_single, 10.0), 48.8566, 48.8584]
    lon = np.r_[np.full(n_single, 20.0), 2.3522, 2.2945]
    nlat, nlon, ndt = (np.full(n_single + 2, np.nan) for _ in range(3))
    # one segment: the last host's first point -> its second point
    nlat[-2], nlon[-2], ndt[-2] = lat[-1], lon[-1], 3600.0
    alat, alon = np.r_[lat[:-1], lat[-2]], np.r_[lon[:-1], lon[-2]]
    hosts = [f"h{i:06d}" for i in range(n_single)] + ["paris", "paris"]
    batch = pa.record_batch(
        [pa.array(hosts)] + [pa.array(v, from_pandas=True) for v in
                             (lat, lon, nlat, nlon, ndt, alat, alon)],
        names=["host", "lat", "lon", "next_lat", "next_lon", "next_dt_s",
               "alat", "alon"])
    kernel = loc._bin_stream(DEFAULT)
    many = pa.Table.from_batches(list(kernel([batch])))
    alone = pa.Table.from_batches(list(kernel([batch.slice(n_single)])))
    assert alone.num_rows > 1
    keys = [("ix", "ascending"), ("iy", "ascending")]
    assert many.sort_by(keys).equals(alone.sort_by(keys))
