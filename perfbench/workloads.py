"""The benchmark workloads.

A workload builds its inputs from the seed (`build`), runs one pass of
its pipeline over the cached inputs (`run_pass`), reduces a pass's output
to canonical pandas frames (`outputs`), and checks those against an
independent reference once per run (`check`).  Each layer of a pass runs
inside `p.layer(name)`, which times it and, in the traced run, gives it
its own Spark job group.

Each run starts a fresh JVM whose first pass is 2-3x a warm one and whose
second is still 10-20% slower than the passes after it, so every workload
runs two warm-up passes.  Pass time keeps falling by a few percent a pass
for several passes more; the median of the timed passes absorbs that
within the one-minute run a workload can afford.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.config import DEFAULT

from . import checks, gen


class Trips:
    """The product path: pages -> geopoints -> activity locations ->
    episodes -> tile pyramid -> parquet sinks."""

    name = "trips"
    layers = ("trace_prep", "locations", "episodes", "tiles", "sinks")
    candidate_layers = ()
    n_hosts, n_pages = 15, 3000
    warmup_passes = 2

    def __init__(self, seed: int):
        self.seed = seed

    def build(self, spark) -> int:
        from engine.datagen import gen_web_pages, pages_to_spark
        self.pages_pd, _, _ = gen_web_pages(self.n_hosts, self.n_pages,
                                            seed=self.seed)
        self.pages = pages_to_spark(spark, self.pages_pd).cache()
        return self.pages.count()

    def release(self) -> None:
        self.pages.unpersist()

    def run_pass(self, p) -> dict:
        from engine import episodes as ep
        from engine import locations as loc
        from engine import sinks, tiles, trace_prep
        cfg = DEFAULT
        with p.layer("trace_prep") as rows:
            gp = trace_prep.geopoints(self.pages, cfg).persist()
            rows.n = n_gp = gp.count()
        with p.layer("locations") as rows:
            locs = loc.detect_locations(gp, cfg, n_points_hint=n_gp).persist()
            rows.n = n_loc = locs.count()
        with p.layer("episodes") as rows:
            assigned = ep.knn_assign_auto(gp, locs, cfg,
                                          n_locations_hint=n_loc)
            eps = ep.build_episodes(
                assigned, cfg,
                presorted=assigned.knn_strategy == "collected").persist()
            rows.n = n_eps = eps.count()
        with p.layer("tiles") as rows:
            sites = trace_prep.interpolate_sites(gp, cfg)
            pyr = tiles.rollup_pyramid(
                tiles.cell_density(sites, cfg, salted=True), cfg).toPandas()
            rows.n = len(pyr)
        with p.layer("sinks") as rows:
            sinks.write_episodes(eps, p.sink_path("episodes"))
            sinks.write_locations(locs, p.sink_path("locations"))
            rows.n = n_eps + n_loc
        return {"gp": gp, "locs": locs, "assigned": assigned, "eps": eps,
                "pyr": pyr}

    def outputs(self, out: dict) -> dict[str, pd.DataFrame]:
        c = checks.canon
        return {
            "gp": c(out["gp"].select("url", "subset_id", "weight_s")
                    .toPandas(), ["url"]),
            "locs": c(out["locs"].select("host", "location_id", "lat", "lon",
                                         "dwell_s", "n_cells").toPandas(),
                      ["host", "location_id"]),
            "eps": c(out["eps"].select("host", "seq", "start_ts", "end_ts",
                                       "kind", "location_id").toPandas(),
                     ["host", "seq"]),
            "assigned": c(out["assigned"].select("url", "location_id")
                          .toPandas(), ["url"]),
            "pyr": c(out["pyr"], ["level", "cell_id"]),
        }

    def check(self, frames: dict) -> list[str]:
        return (checks.trips_vs_oracle(self.pages_pd, frames["gp"],
                                       frames["locs"], frames["assigned"],
                                       frames["eps"])
                + checks.pyramid_mass(frames["pyr"]))

    def unpersist(self, out: dict) -> None:
        for k in ("gp", "locs", "eps"):
            out[k].unpersist()


class CandidateJoins:
    """Five candidate-generating operators: four spatial joins over the
    trace generator's points and planted stops, then LSH cosine top-k over
    planted near-duplicate vectors."""

    name = "candidate_joins"
    layers = ("tiles.pip_join", "spatial.snap_to_segments",
              "ops.geo_radius_join", "clustering.dbscan_geo",
              "similarity.ann_cosine_topk")
    candidate_layers = layers
    n_hosts, n_pages = 15, 3000
    snap_r = 10                 # grid units (1e-4 deg), ~110 m
    dbscan_every, dbscan_eps_m, dbscan_min_pts = 4, 15.0, 8
    n_vecs, dim, topk, lsh_bits, lsh_bands = 1000, 64, 5, 18, 3
    warmup_passes = 2

    def __init__(self, seed: int):
        self.seed = seed

    def build(self, spark) -> int:
        from engine import tiles
        cfg = DEFAULT
        from engine.datagen import gen_activity_polygons, gen_web_pages
        from engine.geo import cell_encode
        pages, truth_stops, _ = gen_web_pages(self.n_hosts, self.n_pages,
                                              seed=self.seed)
        pts = trace_points(pages)
        pts["cell_id"] = cell_encode(pts["lat"].to_numpy(),
                                     pts["lon"].to_numpy(), cfg.cell_level)
        pts["gx"], pts["gy"] = gen.grid_xy(pts["lat"], pts["lon"])
        self.points = pts
        self.stops = gen.stop_table(truth_stops)
        self.segs = gen.stop_segments(truth_stops)
        self.polys = gen_activity_polygons(truth_stops, seed=self.seed)
        self.sample = pts.iloc[::self.dbscan_every][["p_id", "lat", "lon"]]
        vecs, self.V, self.vec_truth = gen.near_dup_vectors(
            self.seed, self.n_vecs, self.dim)

        def cache(pdf, schema=None):
            return spark.createDataFrame(pdf, schema).cache()

        self.dfs = {
            "points": cache(pts),
            "polys": tiles.with_cell_cover(cache(
                self.polys, "polygon_id long, name string, "
                            "ring array<array<double>>"), cfg).cache(),
            "stops": cache(self.stops),
            "segs": cache(self.segs),
            "sample": cache(self.sample),
            "vecs": cache(vecs, "vec_id long, embedding array<double>"),
        }
        for df in self.dfs.values():
            df.count()
        return len(pts) + self.n_vecs

    def release(self) -> None:
        for df in self.dfs.values():
            df.unpersist()

    def run_pass(self, p) -> dict:
        from engine import clustering, ops, similarity, spatial, tiles
        cfg = DEFAULT
        d = self.dfs
        out = {}
        with p.layer("tiles.pip_join") as rows:
            out["pip"] = tiles.pip_join(d["points"], d["polys"],
                                        cfg).toPandas()
            rows.n = len(out["pip"])
        with p.layer("spatial.snap_to_segments") as rows:
            out["snap"] = spatial.snap_to_segments(
                d["points"], d["segs"], ["host"], "gx", "gy",
                "x1", "y1", "x2", "y2", self.snap_r).toPandas()
            rows.n = len(out["snap"])
        with p.layer("ops.geo_radius_join") as rows:
            out["radius"] = ops.geo_radius_join(
                d["points"], d["stops"], "lat", "lon", "slat", "slon",
                cfg.cluster_distance_m, a_id="p_id", b_id="s_id").toPandas()
            rows.n = len(out["radius"])
        with p.layer("clustering.dbscan_geo") as rows:
            out["dbscan"] = clustering.dbscan_geo(
                d["sample"], "p_id", "lat", "lon", self.dbscan_eps_m,
                self.dbscan_min_pts).toPandas()
            rows.n = len(out["dbscan"])
        with p.layer("similarity.ann_cosine_topk") as rows:
            out["topk"] = similarity.ann_cosine_topk(
                d["vecs"], k=self.topk, dim=self.dim, bits=self.lsh_bits,
                bands=self.lsh_bands).toPandas()
            rows.n = len(out["topk"])
        return out

    def outputs(self, out: dict) -> dict[str, pd.DataFrame]:
        c = checks.canon
        return {
            "pip": c(out["pip"], ["url", "polygon_id"]),
            "snap": c(out["snap"], ["p_id"]),
            "radius": c(out["radius"], ["p_id", "s_id"]),
            "dbscan": c(out["dbscan"], ["p_id"]),
            "topk": c(out["topk"], ["a", "rk"]),
        }

    def check(self, frames: dict) -> list[str]:
        return (checks.check_pip(frames["pip"], self.points, self.polys)
                + checks.check_snap(frames["snap"], self.points, self.segs,
                                    self.snap_r)
                + checks.check_radius(frames["radius"], self.points,
                                      self.stops, DEFAULT.cluster_distance_m)
                + checks.check_dbscan(frames["dbscan"], self.sample,
                                      self.dbscan_eps_m, self.dbscan_min_pts)
                + checks.check_topk(frames["topk"], self.V, self.vec_truth,
                                    self.topk, min_recall=0.95))

    def unpersist(self, out: dict) -> None:
        pass


def trace_points(pages: pd.DataFrame) -> pd.DataFrame:
    """Geotagged trace points of the generated pages, parsed from their
    [geo:lat,lon;acc=..] tokens, accuracy <= 100 m, ordered by url."""
    tok = pages["text"].str.extract(
        r"\[geo:(-?\d+\.\d+),(-?\d+\.\d+);acc=(\d+\.\d)\]")
    ok = tok[0].notna()
    acc = tok.loc[ok, 2].astype(np.float64)
    keep = acc.index[acc <= 100.0]
    pts = pd.DataFrame({
        "url": pages.loc[keep, "url"].to_numpy(),
        "host": pages.loc[keep, "url"].str.extract(r"//([^/]+)/")[0]
        .to_numpy(),
        "lat": tok.loc[keep, 0].astype(np.float64).to_numpy(),
        "lon": tok.loc[keep, 1].astype(np.float64).to_numpy(),
    }).sort_values("url", kind="mergesort").reset_index(drop=True)
    pts.insert(0, "p_id", np.arange(len(pts), dtype=np.int64))
    return pts


WORKLOADS = {w.name: w for w in (Trips, CandidateJoins)}
