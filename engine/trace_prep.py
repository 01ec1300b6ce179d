"""Trace-prep pipeline: web_pages -> cleaned, weighted, cell-indexed geopoints.

SURVEY.md §7.3 / §3.2 E1'.  Stage map (operator ids from SURVEY.md §2):

  extract_points   F1 projection + F5 lang/geotag predicate + X5 extraction +
                   F2 accuracy filter — all native expressions, pushed to the
                   parquet scan by Catalyst (html is never read).
  prep_points      one shuffle (hash repartition by host) + native partition
                   sort, then ONE streaming Arrow kernel fusing the per-host
                   ordered passes: F3 sequential dedup, G1 positional-jump
                   fixpoint, W2 gap sessionization, A1 time weights.  Fusing
                   keeps it at a single exchange and the sort stays in
                   whole-stage codegen; the window-expression forms in
                   engine/ops.py are the semantic contract and are
                   cross-checked in tests.
  with_cell        X6 cell encode (native codegen exprs, no shuffle).
  interpolate_sites X3 path interpolation — pure native exprs (sequence +
                   posexplode), narrow, no shuffle.  Output is the KDE mass
                   model: each inter-fix segment's duration is spread
                   uniformly over <=interpolation_step_m sub-segment
                   midpoints, so total mass == observed seconds per subset.

Reference anchors: REF main.py (scan/projection [M]), REF trace.py::
remove_sequential_duplicates / remove_positional_error /
make_known_subsets [M], REF point.py::Point.weight [M], REF trace.py
interpolation [M].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT, EngineConfig
from .functions import (geotag_cols, haversine_m_col, host_from_url,
                        host_runs)

GEOPOINT_SCHEMA = ("host string, url string, warc_ts timestamp, lat double, "
                   "lon double, acc_m double, seq int, subset_id int, "
                   "weight_s double, next_lat double, next_lon double, "
                   "next_dt_s double")

# G1 fixpoint round cap (real data converges in <= 3).  Shared with the
# chained-SQL oracle replay in __spark_entry__.py — one source of truth.
G1_ROUNDS = 16


def extract_points(pages: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """F1 + F5 + X5 + F2 — native expressions only (scan-pushable).

    The geotag regex runs ONCE per row (whole-token match); lat/lon/acc are
    then parsed with substring ops — at 8M rows the naive per-group
    regexp_extract x5 was the dominant extract cost."""
    from .functions import geotag_cols_from_token, geotag_token
    tok = geotag_token(F.col("text"))
    return (pages
            .filter(F.col("lang").isin(*cfg.lang_allowlist))          # F5
            # cheap literal prefilter short-circuits the regex: any token
            # match contains "[geo:" verbatim, and StringContains is both
            # scan-pushable and far cheaper than the regex on rows with no
            # tag.  On the synthetic fixture (95% tagged) this is a wash
            # (A/B-measured); on a real crawl — where geotagged pages are
            # the small minority — it skips the regex on most of the
            # corpus.  Semantics unchanged (asserted by the x5 oracle,
            # which has no prefilter).
            .filter(F.col("text").contains("[geo:"))
            # The token rides through a one-element explode — a Generate
            # is an optimizer BARRIER that materializes `_tok` as a real
            # attribute.  A plain alias is not: predicate pushdown
            # substitutes alias definitions into pushed filters and the
            # downstream parse references `_tok` seven times, so when
            # `text` is itself an expression (the events-derived pages
            # view) the regex — and the whole text-generation chain under
            # it — was re-evaluated per reference (measured 8x the entire
            # extract stage).  Exactly one row out per row in; stays in
            # whole-stage codegen (GenerateExec); no exchange.
            .select(host_from_url(F.col("url")).alias("host"),
                    "url", "warc_ts",
                    F.explode(F.array(tok)).alias("_tok"))
            .filter(F.col("_tok") != "")                              # F5 (token)
            .select("host", "url", "warc_ts",
                    *[c.alias(n) for c, n in
                      zip(geotag_cols_from_token(F.col("_tok")),
                          ("lat", "lon", "acc_m"))])
            .filter(F.col("acc_m") <= F.lit(cfg.min_accuracy_m)))     # F2


def _prep_host_sorted(tbl, cfg: EngineConfig):
    """Fused F3 + G1 + W2 + A1 for ONE host's pyarrow Table, input already
    sorted by (warc_ts, url) — the sort lives in Spark's codegen'd partition
    sort (prep_points), NOT in Python.  The kernel is Arrow-native end to
    end: host/url stay Arrow string buffers (C++ `take` for the surviving
    rows) and are NEVER materialized as Python objects — at 8M rows the
    pandas object-string conversion was the pipeline's dominant cost
    (executor threads blocked on Python with ~20% CPU).
    Copy discipline: ONE surviving-row take."""
    import pyarrow as pa

    gap_s = cfg.gap_s
    max_speed = cfg.max_speed_ms
    t = tbl["warc_ts"].to_numpy(zero_copy_only=False).astype(np.int64) / 1e6
    lat = tbl["lat"].to_numpy(zero_copy_only=False)
    lon = tbl["lon"].to_numpy(zero_copy_only=False)

    # --- F3: sequential duplicate removal (compare to previous raw row)
    keep = np.ones(len(tbl), dtype=bool)
    if len(tbl) > 1:
        keep[1:] = ~((lat[1:] == lat[:-1]) & (lon[1:] == lon[:-1]))
    t, lat, lon = t[keep], lat[keep], lon[keep]
    sel = np.flatnonzero(keep)  # row ids into the sorted table

    # --- G1: positional-jump removal, fixpoint (SURVEY.md §2.2 G1).
    # Drop interior points whose BOTH adjacent implied speeds exceed
    # max_speed; endpoints dropped when their single adjacent speed is
    # implausible and the neighbor is not itself the outlier.
    from .geo import haversine_m
    alive = np.ones(len(sel), dtype=bool)
    for _ in range(G1_ROUNDS):  # fixpoint bound; real data converges in <=3
        idx = np.where(alive)[0]
        if len(idx) < 2:
            break
        d = haversine_m(lat[idx[:-1]], lon[idx[:-1]], lat[idx[1:]], lon[idx[1:]])
        dt = np.maximum(t[idx[1:]] - t[idx[:-1]], 1e-9)
        fast = d / dt > max_speed            # per adjacent pair
        bad = np.zeros(len(idx), dtype=bool)
        if len(idx) > 2:
            bad[1:-1] = fast[:-1] & fast[1:]
        # endpoints: implausible edge speed and inner neighbor is clean
        if len(idx) >= 3:
            bad[0] = fast[0] & ~(fast[0] & fast[1])
            bad[-1] = fast[-1] & ~(fast[-2] & fast[-1])
        elif len(idx) == 2 and fast[0]:
            bad[1] = True  # ambiguous pair: keep the earlier fix
        if not bad.any():
            break
        alive[idx[bad]] = False
    t, lat, lon = t[alive], lat[alive], lon[alive]
    # the single surviving-row take (Arrow C++; strings never hit Python)
    sub = tbl.take(pa.array(sel[alive]))

    # --- W2: observation-gap sessionization
    n = len(sub)
    if n == 0:
        return None
    new_subset = np.ones(n, dtype=np.int64)
    if n > 1:
        new_subset[1:] = (t[1:] - t[:-1] > gap_s).astype(np.int64)
    subset = np.cumsum(new_subset) - 1

    # --- A1: time weights (half-gap each side, within subset)
    prev_gap = np.zeros(n)
    next_gap = np.zeros(n)
    if n > 1:
        same_prev = subset[1:] == subset[:-1]
        prev_gap[1:] = np.where(same_prev, t[1:] - t[:-1], 0.0)
        next_gap[:-1] = np.where(same_prev, t[1:] - t[:-1], 0.0)
    weight = prev_gap / 2.0 + next_gap / 2.0

    # --- segment info for X3 (next point within same subset)
    nlat = np.full(n, np.nan)
    nlon = np.full(n, np.nan)
    ndt = np.full(n, np.nan)
    if n > 1:
        nlat[:-1] = np.where(same_prev, lat[1:], np.nan)
        nlon[:-1] = np.where(same_prev, lon[1:], np.nan)
        ndt[:-1] = np.where(same_prev, t[1:] - t[:-1], np.nan)

    # output batch: surviving Arrow columns verbatim + numpy-derived columns
    # (NaN -> null for the next_* segment columns, matching the pandas
    # mapInPandas convention that downstream isNotNull filters rely on)
    return pa.record_batch([
        sub["host"].combine_chunks(), sub["url"].combine_chunks(),
        sub["warc_ts"].combine_chunks(),
        pa.array(lat), pa.array(lon), sub["acc_m"].combine_chunks(),
        pa.array(np.arange(n, dtype=np.int32)),
        pa.array(subset.astype(np.int32)),
        pa.array(weight),
        pa.array(nlat, from_pandas=True),
        pa.array(nlon, from_pandas=True),
        pa.array(ndt, from_pandas=True),
    ], names=["host", "url", "warc_ts", "lat", "lon", "acc_m", "seq",
              "subset_id", "weight_s", "next_lat", "next_lon", "next_dt_s"])


def _prep_stream(cfg: EngineConfig):
    """mapInArrow stream over a (host, warc_ts, url)-sorted partition:
    flushes each completed host run (functions.host_runs) through
    _prep_host_sorted.  Peak Python memory is one host's rows, never the
    partition — and only numeric columns ever become numpy; strings live
    in Arrow buffers throughout."""
    def stream(batches):
        for _, tbl in host_runs(batches):
            out = _prep_host_sorted(tbl, cfg)
            if out is not None:
                yield out

    return stream


def prep_points(points: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """ONE shuffle (hash repartition by host) + Spark-native sort within
    partitions on (host, warc_ts, url), then a STREAMING fused Arrow kernel
    (mapInArrow) over the sorted stream.

    vs groupBy().applyInPandas this (a) moves the per-host (warc_ts, url)
    string sort out of Python into Spark's codegen'd partition sort — the
    mega-host's in-Python mergesort was the dominant straggler cost — and
    (b) keeps the exchange count at exactly one (asserted in
    tests/test_plan_shape.py).  mapInArrow (not mapInPandas) because the
    pandas bridge materializes every host/url string as a Python object."""
    pts = (points.repartition(F.col("host"))
           .sortWithinPartitions("host", "warc_ts", "url"))
    return pts.mapInArrow(_prep_stream(cfg), schema=GEOPOINT_SCHEMA)


def with_cell(points: DataFrame, cfg: EngineConfig = DEFAULT,
              lat_col: str = "lat", lon_col: str = "lon",
              out: str = "cell_id") -> DataFrame:
    """X6 — narrow native (whole-stage-codegen) cell encode at
    cfg.cell_level; bit-exact twin of the numpy kernel (tests/test_geo.py)."""
    from .functions import encode_cell_native
    return encode_cell_native(points, lat_col, lon_col, out, cfg.cell_level)


def interpolate_sites(points: DataFrame, cfg: EngineConfig = DEFAULT,
                      carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """X3 — KDE mass sites, pure native exprs (no shuffle, no UDF).

    Each segment (point -> next point within subset, duration next_dt_s,
    length d) yields n = max(1, ceil(d / step)) sites at sub-segment
    midpoints, each carrying next_dt_s / n seconds of mass.  Sum of site
    mass per subset == observed span (the time integral along the
    trajectory).  Single-point subsets contribute no mass.
    """
    seg = points.filter(F.col("next_dt_s").isNotNull())
    d = haversine_m_col(F.col("lat"), F.col("lon"),
                        F.col("next_lat"), F.col("next_lon"))
    n = F.greatest(F.lit(1), F.ceil(d / F.lit(cfg.interpolation_step_m))).cast("int")
    seg = seg.withColumn("_n", n)
    frac = (F.col("pos").cast("double") + 0.5) / F.col("_n").cast("double")
    extra = list(carry_cols)
    return (seg.select(
        "host", "subset_id", "_n", "lat", "lon", "next_lat", "next_lon",
        "next_dt_s", *extra,
        F.posexplode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("pos", "_k"))
        .select(
            "host", "subset_id", *extra,
            (F.col("lat") + frac * (F.col("next_lat") - F.col("lat"))).alias("site_lat"),
            (F.col("lon") + frac * (F.col("next_lon") - F.col("lon"))).alias("site_lon"),
            (F.col("next_dt_s") / F.col("_n").cast("double")).alias("mass_s")))


def geopoints(pages: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Full trace-prep: pages -> cleaned weighted cell-indexed geopoints."""
    return with_cell(prep_points(extract_points(pages, cfg), cfg), cfg)
