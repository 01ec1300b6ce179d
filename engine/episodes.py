"""kNN stop-cluster assignment + episode segmentation (SURVEY.md §2.3 J1,
§2.5 W3-W5, §2.4 A6-A8).

Reference analog: the episode loop of REF trace.py [M] — assign each point
to its nearest activity location within cluster_distance, segment the
per-user stream at assignment changes, demote dwells shorter than
minimum_activity_time to travel, emit 'unknown' episodes across observation
gaps.  REF compare.py [M] is the interval-alignment validator (engine/ops.py
interval_overlap_join + agreement_metrics here).

Spark shape:
  knn_assign        — distributed cell-index kNN join: candidate pairs via
                      equi-join of point cell ids against the exploded ring-1
                      neighbor cover of each location's cell (per host), then
                      exact haversine refine + min(struct(dist, loc_id))
                      aggregation pick (map-side combinable; no sort
                      exchange).  The index level is chosen so one ring-1
                      neighborhood always covers `radius` even at the MINIMUM
                      quadratic-ST cell edge — property-tested near face
                      corners in tests/test_geo.py.
  build_episodes    — per-host Arrow kernel: W3 run-compress, W4 spans, W5
                      short-dwell demotion to fixpoint, 'unknown' gap
                      episodes; fully deterministic ordering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from .config import DEFAULT, EngineConfig
from .functions import (haversine_m_col, make_cell_encode_udf,
                        make_cell_neighbors_udf, parent_cell_col)

# Quadratic-ST cells are not uniform: the shortest cell edge is ~0.6x the
# (pi/2)/2^level nominal edge (S2 quadratic metrics: kMinEdge/kMaxEdge).
# Sizing the kNN index by the nominal edge let points ~radius apart fall
# outside each other's ring-1 neighborhood near face corners (verified
# adversarially: 7/261k pairs at level 16 / 100 m).  The ring-1 cover
# guarantee must hold for the MINIMUM edge.
MIN_EDGE_FRAC = 0.6


def level_for_radius(radius_m: float) -> int:
    """Finest level whose MINIMUM cell edge still covers radius_m (ring-1
    cover guarantee; property-tested near face corners in tests/test_geo.py)."""
    level = int(np.floor(np.log2(
        MIN_EDGE_FRAC * (np.pi / 2.0) * geo.EARTH_RADIUS_M / radius_m)))
    return max(0, min(level, geo.MAX_LEVEL))


def knn_assign(points: DataFrame, locations: DataFrame,
               cfg: EngineConfig = DEFAULT,
               radius_m: float | None = None,
               broadcast_locations: bool = False) -> DataFrame:
    """J1 — nearest location (k=1) within radius, per host.

    points must carry (host, url, lat, lon, cell_id@cfg.cell_level);
    locations carry (host, location_id, lat, lon).  Returns points plus
    nullable `location_id` and `loc_dist_m`.
    """
    radius = radius_m if radius_m is not None else cfg.cluster_distance_m
    level = min(level_for_radius(radius), cfg.cell_level)
    enc = make_cell_encode_udf(level)
    neigh = make_cell_neighbors_udf(level, k=cfg.knn_ring)

    # location side: cell + ring-1 cover, exploded -> (host, jcell, loc...)
    loc = (locations
           .withColumn("_lcell", enc(F.col("lat"), F.col("lon")))
           .withColumn("_jcell", F.explode(F.array_distinct(neigh(F.col("_lcell")))))
           .select(F.col("host").alias("_lhost"), "_jcell",
                   F.col("location_id").alias("_loc_id"),
                   F.col("lat").alias("_llat"), F.col("lon").alias("_llon")))
    if broadcast_locations:
        loc = F.broadcast(loc)

    # point side: reuse the level-cfg.cell_level cell id via native parent op
    if level == cfg.cell_level:
        pcell = F.col("cell_id")
    elif level < cfg.cell_level:
        pcell = parent_cell_col(F.col("cell_id"), level)
    else:  # radius finer than the index level: re-encode
        pcell = enc(F.col("lat"), F.col("lon"))
    pts = points.withColumn("_pcell", pcell)

    # Narrow candidate stream: only the point key + coords ride the candidate
    # exchange (not the full point row), best candidate is picked with a
    # map-side-combinable min(struct(dist, loc_id)) aggregation (no sort
    # exchange of wide candidate rows), then joined back once.  warc_ts is in
    # the key so re-crawled urls (same url, different ts) keep one row each.
    key = ["host", "url", "warc_ts"]
    cand = (pts.select(*key, "lat", "lon", "_pcell")
            .join(loc, (F.col("host") == F.col("_lhost"))
                  & (F.col("_pcell") == F.col("_jcell")), "inner"))
    dist = haversine_m_col(F.col("lat"), F.col("lon"),
                           F.col("_llat"), F.col("_llon"))
    best = (cand.withColumn("_dist", dist)
            .filter(F.col("_dist") <= F.lit(radius))
            .groupBy(*key)
            .agg(F.min(F.struct(F.col("_dist"), F.col("_loc_id"))).alias("_best")))
    return (pts.join(best, key, "left")
            .withColumn("location_id", F.col("_best._loc_id"))
            .withColumn("loc_dist_m", F.col("_best._dist"))
            .drop("_best", "_pcell"))


def knn_assign_auto(points: DataFrame, locations: DataFrame,
                    cfg: EngineConfig = DEFAULT,
                    radius_m: float | None = None,
                    n_locations_hint: int | None = None) -> DataFrame:
    """J1 strategy pick (mirrors detect_locations' cost-based auto): the
    closure-broadcast index (knn_assign_collected — ZERO point-set
    exchanges) when the location table fits the documented driver/broadcast
    envelope (cfg.knn_broadcast_max_locations, ~50 B/row), else the
    cell-cover equi-join (knn_assign — unbounded location tables, same
    output contract; parity-tested).

    ``n_locations_hint`` skips the count when the caller already has one
    (e.g. from a persisted upstream).  Without a hint the count runs on the
    locations table — orders of magnitude smaller than the points, so the
    extra job is cheap relative to either strategy.
    """
    n = (n_locations_hint if n_locations_hint is not None
         else locations.count())
    if n <= cfg.knn_broadcast_max_locations:
        out = knn_assign_collected(points, locations, cfg, radius_m,
                                   n_locations_hint=n)
        out.knn_strategy = "collected"  # map-only: preserves partitioning
    else:
        out = knn_assign(points, locations, cfg, radius_m)
        out.knn_strategy = "join"
    return out


def knn_assign_collected(points: DataFrame, locations: DataFrame,
                         cfg: EngineConfig = DEFAULT,
                         radius_m: float | None = None,
                         n_locations_hint: int | None = None) -> DataFrame:
    """J1 via a driver-collected location index captured in an Arrow-kernel
    closure: ZERO exchanges of the point set (the join form moves it up to
    three times — candidate join, best-pick aggregation, join-back).

    Semantically identical to knn_assign: nearest location within radius,
    ties broken by smallest location_id (the index is sorted by location_id
    per host, so np.argmin returns the first = smallest id among exact
    ties).  Exact brute force per host — the per-host location count is
    small by construction (A4 peaks), so no cell cover is needed.

    Scale envelope: requires the locations TABLE (not the points) to fit on
    the driver + one executor broadcast (~50 B/row; 10^7 rows = 500 MB is
    the practical ceiling).  The envelope is ENFORCED: the collect is capped
    at cfg.knn_broadcast_max_locations rows and raises past it (use
    knn_assign_auto to fall back to the join form instead of erroring).

    Broadcast lifetime: the broadcast variable is captured in the returned
    DataFrame's UDF closure; Spark's ContextCleaner reclaims it once the
    DataFrame (and its plan) is garbage-collected.  Long-lived sessions that
    materialize-and-drop many assignments (engine/submit.py stages) can
    destroy it eagerly via the `destroy_knn_broadcast` attribute attached to
    the returned DataFrame.
    """
    radius = radius_m if radius_m is not None else cfg.cluster_distance_m
    ceiling = cfg.knn_broadcast_max_locations
    sel = locations.select("host", "location_id", "lat", "lon")
    # enforce the envelope; without a hint, probe at most ceiling+1 rows
    n = (n_locations_hint if n_locations_hint is not None
         else sel.limit(ceiling + 1).count())
    if n > ceiling:
        raise ValueError(
            f"locations table exceeds knn_broadcast_max_locations="
            f"{ceiling}; use knn_assign_auto/knn_assign (cell-cover "
            f"join) for unbounded location tables")
    rows = sel.orderBy("host", "location_id").collect()
    index: dict[str, tuple] = {}
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(
            (r["location_id"], r["lat"], r["lon"]))
    for h, ls in by_host.items():  # already sorted by location_id
        ids = np.array([l[0] for l in ls], dtype=np.int64)
        lla = np.array([l[1] for l in ls])
        llo = np.array([l[2] for l in ls])
        index[h] = (ids, lla, llo)
    bc = points.sparkSession.sparkContext.broadcast(index)

    from pyspark.sql import types as T

    out_type = T.StructType([
        T.StructField("location_id", T.IntegerType()),
        T.StructField("loc_dist_m", T.DoubleType()),
    ])

    @F.pandas_udf(out_type)
    def assign(host: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        idx = bc.value
        n = len(host)
        out_id = np.full(n, np.nan)
        out_d = np.full(n, np.nan)
        if n:
            la = lat.to_numpy(np.float64)
            lo = lon.to_numpy(np.float64)
            codes, uniq = pd.factorize(host, sort=False)
            for ci, h in enumerate(uniq):
                loc = idx.get(h)
                if loc is None:
                    continue
                ids, lla, llo = loc
                sel = np.flatnonzero(codes == ci)
                d = geo.haversine_m(la[sel][:, None], lo[sel][:, None],
                                    lla[None, :], llo[None, :])
                j = np.argmin(d, axis=1)
                dm = d[np.arange(len(sel)), j]
                ok = dm <= radius
                out_id[sel[ok]] = ids[j[ok]]
                out_d[sel[ok]] = dm[ok]
        return pd.DataFrame({
            "location_id": pd.array(
                [None if np.isnan(v) else int(v) for v in out_id],
                dtype="Int32"),
            "loc_dist_m": out_d,
        })

    res = points.withColumn("_a", assign(F.col("host"), F.col("lat"),
                                         F.col("lon")))
    out = (res.withColumn("location_id", F.col("_a.location_id"))
           .withColumn("loc_dist_m", F.col("_a.loc_dist_m"))
           .drop("_a"))
    # eager-cleanup hook for long-lived sessions (see docstring)
    out.destroy_knn_broadcast = lambda: bc.destroy()
    return out


# ---------------------------------------------------------------------------
# episodes
# ---------------------------------------------------------------------------

def _subset_runs(t_us: np.ndarray, loc: np.ndarray, min_dwell_us: int):
    """W3 + W4 + W5 for ONE subset (time-ordered input).  Run-compress the
    label stream, demote activity runs shorter than min_dwell to travel,
    re-merge adjacent equal labels, repeat to fixpoint.  Returns
    (starts_us, ends_us, labels) lists; labels are float with NaN = travel.
    Episodes partition [t[0], t[-1]] exactly."""
    same_lab = ((loc[1:] == loc[:-1])
                | (np.isnan(loc[1:]) & np.isnan(loc[:-1])))
    run_starts = np.r_[0, np.flatnonzero(~same_lab) + 1]
    labels = [float(v) for v in loc[run_starts]]
    starts = [int(v) for v in t_us[run_starts]]
    last_ts = int(t_us[-1])
    ends = [starts[k + 1] for k in range(len(starts) - 1)] + [last_ts]
    while True:
        demote = [k for k in range(len(labels))
                  if not np.isnan(labels[k])
                  and ends[k] - starts[k] < min_dwell_us]
        if not demote:
            break
        for k in demote:
            labels[k] = float("nan")
        nl, ns = [], []
        for k in range(len(labels)):
            if nl and _same(nl[-1], labels[k]):
                continue
            nl.append(labels[k])
            ns.append(starts[k])
        labels, starts = nl, ns
        ends = [starts[k + 1] for k in range(len(starts) - 1)] + [last_ts]
    return starts, ends, labels


def _same(a, b) -> bool:
    an = isinstance(a, float) and np.isnan(a)
    bn = isinstance(b, float) and np.isnan(b)
    if an or bn:
        return an and bn
    return a == b


_PER_SUBSET_SCHEMA = ("host string, start_ts timestamp, end_ts timestamp, "
                      "kind string, location_id int, ridx int")


def _episode_stream(cfg: EngineConfig):
    """mapInArrow stream over a (host, subset_id, seq)-sorted partition:
    each contiguous (host, subset) run goes through _subset_runs; one output
    batch per input Arrow batch.  `ridx` is the within-subset emission
    index — build_episodes uses it as the deterministic tiebreak for
    zero-length runs at equal timestamps.  Arrow-native I/O: only the
    numeric columns become numpy; the host string is read ONCE per
    (host, subset) group, never per point."""
    import pyarrow as pa
    import pyarrow.compute as pc

    min_dwell_us = int(cfg.min_dwell_s * 1e6)

    def flush(host: str, t_parts, loc_parts, seq_parts, acc):
        seq = np.concatenate(seq_parts) if len(seq_parts) > 1 else seq_parts[0]
        t = np.concatenate(t_parts) if len(t_parts) > 1 else t_parts[0]
        loc = np.concatenate(loc_parts) if len(loc_parts) > 1 else loc_parts[0]
        order = np.argsort(seq, kind="stable")
        starts, ends, labels = _subset_runs(t[order], loc[order], min_dwell_us)
        acc["host"].extend([host] * len(starts))
        acc["start"].extend(starts)
        acc["end"].extend(ends)
        acc["lab"].extend(labels)

    def emit(acc):
        labs = acc["lab"]
        ridx = np.empty(len(labs), dtype=np.int32)
        # ridx restarts at each flush boundary recorded in acc["cuts"]
        prev = 0
        for c in acc["cuts"]:
            ridx[prev:c] = np.arange(c - prev, dtype=np.int32)
            prev = c
        return pa.record_batch([
            pa.array(acc["host"], type=pa.string()),
            pa.array(np.asarray(acc["start"], dtype="datetime64[us]")),
            pa.array(np.asarray(acc["end"], dtype="datetime64[us]")),
            pa.array(["travel" if np.isnan(l) else "activity" for l in labs],
                     type=pa.string()),
            pa.array([None if np.isnan(l) else int(l) for l in labs],
                     type=pa.int32()),
            pa.array(ridx),
        ], names=["host", "start_ts", "end_ts", "kind", "location_id",
                  "ridx"])

    def stream(batches):
        t_parts: list = []
        loc_parts: list = []
        seq_parts: list = []
        cur = None  # (host, subset_id)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            h = tbl["host"].combine_chunks()
            subs = tbl["subset_id"].to_numpy(zero_copy_only=False)
            n = len(h)
            if n > 1:
                hneq = pc.not_equal(h.slice(1), h.slice(0, n - 1)) \
                    .to_numpy(zero_copy_only=False)
                change = hneq | (subs[1:] != subs[:-1])
                cut = np.flatnonzero(change) + 1
            else:
                cut = np.empty(0, dtype=np.int64)
            gstarts = np.r_[0, cut]
            gends = np.r_[cut, n]
            t_all = (tbl["warc_ts"].to_numpy(zero_copy_only=False)
                     .astype(np.int64))
            loc_all = (tbl["location_id"].cast(pa.float64())
                       .to_numpy(zero_copy_only=False))
            seq_all = tbl["seq"].to_numpy(zero_copy_only=False)
            acc = {"host": [], "start": [], "end": [], "lab": [], "cuts": []}
            for s, e in zip(gstarts, gends):
                key = (h[int(s)].as_py(), int(subs[s]))
                if cur is None or key == cur:
                    pass
                else:
                    flush(cur[0], t_parts, loc_parts, seq_parts, acc)
                    acc["cuts"].append(len(acc["lab"]))
                    t_parts, loc_parts, seq_parts = [], [], []
                cur = key
                t_parts.append(t_all[s:e])
                loc_parts.append(loc_all[s:e])
                seq_parts.append(seq_all[s:e])
            if acc["lab"]:
                yield emit(acc)
        if t_parts:
            acc = {"host": [], "start": [], "end": [], "lab": [], "cuts": []}
            flush(cur[0], t_parts, loc_parts, seq_parts, acc)
            acc["cuts"].append(len(acc["lab"]))
            yield emit(acc)

    return stream


def build_episodes(assigned: DataFrame, cfg: EngineConfig = DEFAULT,
                   presorted: bool = False) -> DataFrame:
    """W3-W5 + unknown gaps: assigned points -> episodes DF.

    Scale shape (SURVEY.md §4.2): the kernel is
    chunked by (host, subset_id) — W3-W5 are subset-local by definition —
    so the Zipf mega-host parallelizes across its thousands of subsets
    instead of serializing into one task.  The only cross-subset pieces,
    'unknown' gap episodes and the global seq numbering, run in ONE native
    window pass over the per-subset episode table (orders of magnitude
    smaller than the point stream).  Ships only (host, subset_id, seq,
    warc_ts, location_id) through Arrow — urls stay JVM-side.

    ``presorted``: skips the point-stream repartition+sort entirely when
    the input is already hash-partitioned by host with rows contiguous per
    (host, subset_id) — true for trace_prep.prep_points output carried
    through narrow ops (with_cell, knn_assign_collected/auto's map-only
    path).  The kernel then consumes the existing partitions
    (order-insensitive within a subset: it stable-sorts by seq), so the
    only exchange left in this operator is the tiny episode-table window.
    The mega-host runs as one kernel task on this path, but the kernel is
    a linear run-compress — orders of magnitude cheaper than the shuffle
    it avoids.  Do NOT pass presorted=True after knn_assign (the join form
    destroys partitioning).  Output is byte-identical either way
    (parity-tested).

    Determinism: within a host, episode (start_ts, end_ts) pairs repeat only
    for zero-length runs at duplicated timestamps inside ONE subset, where
    `ridx` (within-subset emission index) reproduces the emission order;
    subsets are disjoint in time, so cross-subset ties cannot occur.
    """
    from pyspark.sql import Window
    pts = assigned.select("host", "subset_id", "seq", "warc_ts", "location_id")
    if not presorted:
        pts = (pts.repartition(F.col("host"), F.col("subset_id"))
               .sortWithinPartitions("host", "subset_id", "seq"))
    per = pts.mapInArrow(_episode_stream(cfg), schema=_PER_SUBSET_SCHEMA)
    # ONE window pass (single exchange + single sort): lag for gap
    # detection, row_number, and a running gap count share the same
    # (host / start_ts, end_ts, ridx) window spec, so Spark evaluates all
    # three in one WindowExec.  The final seq is then pure arithmetic — the
    # earlier row_number-after-explode form forced a SECOND sort because the
    # exploded rows are new attributes Catalyst can't prove ordered.
    w = Window.partitionBy("host").orderBy("start_ts", "end_ts", "ridx")
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    has_gap = F.col("_pe").isNotNull() & (F.col("start_ts") > F.col("_pe"))
    base = (per.withColumn("_pe", F.lag("end_ts").over(w))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_g", F.sum(F.when(has_gap, 1).otherwise(0)).over(wr)))
    # In the combined (start_ts, end_ts, ridx) order each gap row lands
    # immediately before its own episode row: gap.start = prev end <
    # own start, and gap sorts after the previous row (strictly greater
    # start, or equal start with strictly greater end for zero-length
    # predecessors).  Hence seq(self) = (_rn - 1) + _g, seq(gap) = self - 1
    # — identical numbering to a row_number over the exploded set (gap rows
    # carried ridx=MAX there; same tiebreak outcome).
    self_seq = (F.col("_rn") - 1 + F.col("_g")).cast("int")
    self_row = F.struct(self_seq.alias("seq"), F.col("start_ts"),
                        F.col("end_ts"), F.col("kind"), F.col("location_id"))
    gap_row = F.struct(
        (self_seq - 1).cast("int").alias("seq"),
        F.col("_pe").alias("start_ts"), F.col("start_ts").alias("end_ts"),
        F.lit("unknown").alias("kind"),
        F.lit(None).cast("int").alias("location_id"))
    # Gap emission via explode (a self-union of `base` would run the kernel
    # AND its whole upstream twice — ReuseExchange does not dedupe subtrees
    # above a mapInArrow).
    return (base.select(
        "host",
        F.explode(F.when(has_gap, F.array(gap_row, self_row))
                  .otherwise(F.array(self_row))).alias("_e"))
        .select("host", "_e.seq", "_e.start_ts", "_e.end_ts", "_e.kind",
                "_e.location_id"))


# ---------------------------------------------------------------------------
# aggregates over locations/episodes (A8)
# ---------------------------------------------------------------------------

def agreement_metrics(algo: DataFrame, truth: DataFrame) -> DataFrame:
    """A8 — % of overlapped time where episode kind+location agree
    (REF compare.py [M]).  Both inputs: host, start_ts, end_ts, kind,
    location_id."""
    from .ops import interval_overlap_join
    j = interval_overlap_join(
        algo.select("host", "start_ts", "end_ts",
                    F.col("kind").alias("a_kind"),
                    F.col("location_id").alias("a_loc")),
        truth.select("host", "start_ts", "end_ts",
                     F.col("kind").alias("b_kind"),
                     F.col("location_id").alias("b_loc")),
        ["host"])
    match = (F.col("a_kind") == F.col("b_kind")) & \
        F.col("a_loc").eqNullSafe(F.col("b_loc"))
    return (j.groupBy("host")
            .agg(F.round(F.sum(F.when(match, F.col("overlap_s"))
                               .otherwise(F.lit(0.0)))
                         / F.sum("overlap_s"), 6).alias("agreement"),
                 F.round(F.sum("overlap_s"), 6).alias("overlap_total_s")))
