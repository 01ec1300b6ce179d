"""Lloyd k-means over an embedding column — the coarse-quantizer /
corpus-clustering primitive a training-data pipeline uses for
cluster-balanced sampling, semantic dedup buckets, and IVF cell training.
One quantized Lloyd loop (_lloyd, over m subspaces) trains k-means (m =
1) and the PQ / IVFPQ codebooks of engine.similarity.

Spark shape (the MLlib KMeans pattern, re-expressed on DataFrames):
  * each iteration's ASSIGN step is MAP-ONLY — the centroid matrix
    rides in the closure of an Arrow batch kernel (_assign_arrow; same
    closure strategy as `engine.episodes.knn_assign_collected`), so the
    corpus is never shuffled for assignment.  Its argmin (_argmin) uses
    the left-to-right fold order and strict-less tiebreak of the
    chained SQL oracle (`_kmeans_chain_sql` in __spark_entry__.py), the
    semantic reference;
  * the UPDATE step is an explode(s, cl, slice) -> posexplode ->
    groupBy(s, cl, d) partial-agg: the exchange carries at most
    (partitions x m x k x dim/m) pre-combined rows, never the vectors;
    the result is collected to the driver (tiny — this is exactly what
    MLlib's runAlgorithm does per step);
  * total per iteration: one corpus scan + one k*dim-row shuffle.
  At 100 TB this is the right plan: assignment cost is the unavoidable
  O(n*k*dim) scan, and nothing vector-shaped ever crosses an exchange.
  Below MAX_DRIVER_LLOYD_BYTES the updates run on one driver collect
  with the same argmin instead.

Exact cross-engine determinism (the oracle contract): vectors are
quantized to INTEGER-VALUED doubles (floor(x*Q + 0.5), Q = 1024).  Sums
of integer-valued doubles are exact and ORDER-INDEPENDENT below 2^53, so
the per-(cluster, dim) sums match any execution order bit-for-bit;
centroid = sum/count is one IEEE division.  Assignment compares
score(j) = dot(c_j, c_j) - 2*dot(x, c_j), each dot evaluated as a
strictly LEFT-TO-RIGHT fold (Spark `F.aggregate`; DuckDB `list_reduce`),
so both engines produce identical doubles and identical (score, cl)
argmin decisions.  Envelope: exactness of the update sums needs
n_cluster_rows * Q * max|x| < 2^53 per (cluster, dim) — ~10^9 rows per
cluster at Q=1024 on unit-scale embeddings; beyond that the result is
still deterministic per engine but no longer bit-portable.

Ties: argmin tiebreak is lowest cluster id.  Empty clusters keep their
previous centroid (both engines).  Init: the k vectors with the lowest
ids, cluster j = j-th lowest (deterministic, SQL-expressible; a k-means++
init would add seeded randomness the oracle can't replay).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUANT_SCALE = 1024.0

# Driver-envelope for the Lloyd update loop (the classifier's
# MAX_DRIVER_TRAIN_BYTES precedent): when the quantized vector table fits
# this, the (iters-1) centroid updates run as numpy matvecs on ONE
# driver collect instead of one assign-UDF scan + posexplode shuffle +
# collect PER ROUND — bit-identical by the module's exactness contract
# (both sides assign with _argmin; update sums are exact order-free
# integer sums; centroid = one IEEE division either way).
MAX_DRIVER_LLOYD_BYTES = 64 << 20


def quantize_vec(vec: Column, scale: float = QUANT_SCALE) -> Column:
    """float vector -> integer-valued double vector (exact-sum domain)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("double"))


def _fold_dot(a, b) -> float:
    """dot(a, b) as the left-to-right scalar fold the SQL oracles replay
    (Spark `F.aggregate`, DuckDB `list_reduce`)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _argmin(M, cents):
    """(score, code) per row of M against centroid lists ``cents``:
    score_j = fold(c_j, c_j) - 2.0 * acc_j with acc_j = acc_j + M[:, d] *
    c_j[d] accumulated left to right, strict-less argmin so ties keep
    the lowest j.  Every elementwise numpy op is one correctly-rounded
    IEEE double op, so scores and codes equal the oracle's folds
    bit-for-bit.  The one argmin of the Arrow kernel and the driver
    Lloyd loop."""
    import numpy as np
    n = M.shape[0]
    best_s = best_c = None
    for j, c in enumerate(cents):
        acc = np.zeros(n, dtype=np.float64)
        for d in range(len(c)):
            acc = acc + M[:, d] * c[d]
        score = _fold_dot(c, c) - 2.0 * acc
        if best_s is None:
            best_s, best_c = score, np.zeros(n, dtype=np.int64)
        else:
            lt = score < best_s
            best_s = np.where(lt, score, best_s)
            best_c = np.where(lt, j, best_c)
    return best_s, best_c


def _assign_arrow(cents: list[list[list[float]]]):
    """Map-only Arrow assign kernel over m subspaces: ``cents[s][j]`` is
    subspace s's centroid j, and subspace s reads the s-th equal slice of
    `e`.  Returns a pandas UDF e -> struct<c0, score0, ..., c{m-1},
    score{m-1}> with each subspace's _argmin code and score (k-means is
    the m = 1 case).  The centroid matrix rides in the closure."""
    m = len(cents)
    CS = [[list(map(float, c)) for c in cs] for cs in cents]
    sub = len(CS[0][0])
    fields = ", ".join(f"c{s}:bigint, score{s}:double" for s in range(m))

    @F.pandas_udf(f"struct<{fields}>")
    def assign_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for es in it:
            M = (np.stack([np.asarray(v, dtype=np.float64) for v in es])
                 if len(es) else np.empty((0, m * sub)))
            out = {}
            for s in range(m):
                score, code = _argmin(M[:, s * sub:(s + 1) * sub], CS[s])
                out[f"c{s}"], out[f"score{s}"] = code, score
            yield pd.DataFrame(out)

    return assign_udf


def _lloyd(q: DataFrame, m: int, k: int, iters: int):
    """The one quantized Lloyd loop, over m subspaces of a prepared
    (..., vec_id, e) frame whose `e` holds integer-valued doubles.
    Init: subspace s's centroid j is the s-th slice of the j-th
    lowest-id vector; then (iters - 1) updates, where empty clusters
    keep their centroid.  Below MAX_DRIVER_LLOYD_BYTES the updates run
    on one driver collect (_lloyd_driver), past it as Spark rounds
    (_lloyd_distributed) — the same values either way.  Returns (q plus
    the final _assign_arrow struct `_cs`, cents[m][k])."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    init = sorted(q.select("vec_id", "e").orderBy("vec_id").limit(k)
                  .collect(), key=lambda r: r["vec_id"])
    if len(init) < k:
        raise ValueError(f"k={k} exceeds {len(init)} input vectors")
    dim = len(init[0]["e"])
    sub = dim // m
    cents = [[list(r["e"][s * sub:(s + 1) * sub]) for r in init]
             for s in range(m)]
    if iters > 1:
        update = (_lloyd_driver
                  if q.count() * dim * 8 <= MAX_DRIVER_LLOYD_BYTES
                  else _lloyd_distributed)
        cents = update(q, cents, iters - 1)
    return q.withColumn("_cs", _assign_arrow(cents)(F.col("e"))), cents


def _lloyd_driver(q: DataFrame, cents, rounds: int):
    """`rounds` Lloyd updates on ONE collect of `e`: per subspace the
    shared _argmin, then the member mean — per-(cluster, dim) sums are
    exact order-free integer sums and centroid = sum/count is one IEEE
    division, as in _lloyd_distributed."""
    import numpy as np
    M = np.array(q.select("e").toPandas()["e"].tolist(), dtype=np.float64)
    sub = len(cents[0][0])
    for _ in range(rounds):
        nxt = []
        for s, cs in enumerate(cents):
            Ms = M[:, s * sub:(s + 1) * sub]
            _, code = _argmin(Ms, cs)
            new = []
            for j, c in enumerate(cs):
                members = Ms[code == j]
                new.append([float(v) / len(members)
                            for v in members.sum(axis=0)]
                           if len(members) else c)
            nxt.append(new)
        cents = nxt
    return cents


def _lloyd_distributed(q: DataFrame, cents, rounds: int):
    """`rounds` Lloyd updates as Spark rounds: the map-only assign kernel,
    then one exchange of (s, cl, slice) -> posexplode -> groupBy(s, cl,
    d) partial sums (at most partitions x m x k x sub rows), collected
    to the driver."""
    m, sub = len(cents), len(cents[0][0])
    for _ in range(rounds):
        coded = q.withColumn("_cs", _assign_arrow(cents)(F.col("e")))
        stats = (coded.select(F.explode(F.array(*[
                    F.struct(F.lit(s).alias("s"),
                             F.col(f"_cs.c{s}").alias("cl"),
                             F.slice("e", s * sub + 1, sub).alias("v"))
                    for s in range(m)])).alias("z"))
                 .select(F.col("z.s").alias("s"), F.col("z.cl").alias("cl"),
                         F.posexplode("z.v").alias("d", "x"))
                 .groupBy("s", "cl", "d")
                 .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
                 .collect())
        upd: dict[tuple, list] = {}
        for r in stats:
            upd.setdefault((r["s"], r["cl"]), [None] * sub)[r["d"]] = \
                r["sx"] / r["n"]
        cents = [[upd.get((s, j), c) for j, c in enumerate(cs)]
                 for s, cs in enumerate(cents)]
    return cents


def _kmeans_core(df: DataFrame, k: int, iters: int, vec_col: str,
                 id_col: str, scale: float) -> DataFrame:
    """k-means as the one-subspace _lloyd; returns ((vec_id, e, cl, score)
    under the final centroids, final centroid lists) — score = dist^2 -
    dot(x,x)."""
    q = df.select(F.col(id_col).cast("long").alias("vec_id"),
                  quantize_vec(F.col(vec_col), scale).alias("e"))
    q = q.persist()
    try:
        coded, cents = _lloyd(q, 1, k, iters)
        return coded.select("vec_id", "e", F.col("_cs.c0").alias("cl"),
                            F.col("_cs.score0").alias("score")), cents[0]
    finally:
        q.unpersist()


def kmeans_lloyd(df: DataFrame, k: int = 8, iters: int = 4,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 scale: float = QUANT_SCALE) -> DataFrame:
    """`iters` Lloyd rounds; returns (vec_id, cl) — the assignment under
    the (iters-1)-times-updated centroids.  See module docstring for the
    distributed shape and the exactness contract."""
    core, _ = _kmeans_core(df, k, iters, vec_col, id_col, scale)
    return core.select("vec_id", "cl")


def kmeans_prune(df: DataFrame, k: int = 8, iters: int = 4,
                 keep_frac: float = 0.5,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 scale: float = QUANT_SCALE) -> DataFrame:
    """Centroid-distance prototype selection (the SemDeDup-family
    curation step): run k-means, then within each cluster keep the
    ceil(keep_frac * cluster_size) members CLOSEST to their centroid —
    (vec_id, cl, rk), rk 1-based by (dist^2 asc, vec_id asc).

    dist^2 = dot(x,x) + score with the same left-to-right folds as
    assignment, so the rank order is bit-portable (oracle contract).

    Scale note: the ranking is a window partitioned by cluster — k
    partitions, so at web scale (10^9 rows / cluster) this stage is
    k-way skewed by construction.  The 100-TB path replaces the exact
    rank with a per-cluster dist^2 threshold from a distributed quantile
    (approx_percentile over cl), turning the cut into a broadcast-join
    filter; the exact window form here is the oracle-able contract the
    quantile form approximates."""
    from pyspark.sql import Window
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    core, _ = _kmeans_core(df, k, iters, vec_col, id_col, scale)
    xx = F.aggregate(F.zip_with(F.col("e"), F.col("e"),
                                lambda a, b: a * b),
                     F.lit(0.0), lambda acc, v: acc + v)
    d2 = core.withColumn("d2", xx + F.col("score"))
    w = Window.partitionBy("cl")
    wo = w.orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    ranked = (d2.withColumn("rk", F.row_number().over(wo).cast("long"))
                .withColumn("n_cl", F.count(F.lit(1)).over(w)))
    keep = ranked.filter(
        F.col("rk") <= F.ceil(F.lit(float(keep_frac)) * F.col("n_cl"))
                        .cast("long"))
    return keep.select("vec_id", "cl", "rk")


# Driver envelope for the DBSCAN labelling (the MAX_DRIVER_LLOYD_BYTES
# precedent: 64 MB): up to this many (p_id, q_id) int64 pairs, the
# labels are computed on ONE driver collect with numpy instead of the
# ~20 Spark jobs of the distributed tail (counts, core edges, connected
# components, border probe) — same labels by the same rules.
DBSCAN_DRIVER_MAX_PAIRS = 1 << 22


def _dbscan_from_pairs(pairs: DataFrame, id_col: str, min_pts: int,
                       max_iters: int) -> DataFrame:
    """The DBSCAN labelling shared by dbscan_grid, dbscan_geo and
    st_dbscan, from a radius self-join's closed-neighbourhood pairs
    (p_id, q_id), both orientations plus (i, i): n_neighbors counts the
    pairs per point, core iff n_neighbors >= min_pts, clusters are the
    min-id components of the core-core graph, a border point takes the
    MIN cluster among its core neighbours, noise gets NULL.  Returns
    (id_col long, n_neighbors long, role string, cluster long NULLABLE).

    The pairs are materialized once (localCheckpoint) and counted.  Up
    to DBSCAN_DRIVER_MAX_PAIRS pairs the points are labelled on the
    driver (_dbscan_driver); past it the distributed tail runs
    (_dbscan_distributed)."""
    pairs = pairs.localCheckpoint(eager=True)
    if pairs.count() <= DBSCAN_DRIVER_MAX_PAIRS:
        return _dbscan_driver(pairs, id_col, min_pts)
    return _dbscan_distributed(pairs, id_col, min_pts, max_iters)


def _dbscan_driver(pairs: DataFrame, id_col: str,
                   min_pts: int) -> DataFrame:
    """_dbscan_from_pairs on one collect of the pairs: every point has
    its own (i, i) pair, so the sorted distinct p_id are the points and
    dense indices into them keep the id order; the core components come
    from ops.min_label_roots (min index = min id), a border point takes
    the min label over its core neighbours, and the labels return as one
    small DataFrame."""
    import numpy as np
    import pyarrow as pa
    from . import ops
    tbl = pairs.toArrow()
    p = tbl.column("p_id").to_numpy()
    q = tbl.column("q_id").to_numpy()
    ids = np.unique(p)
    n = len(ids)
    pi, qi = np.searchsorted(ids, p), np.searchsorted(ids, q)
    n_nbr = np.bincount(pi, minlength=n)
    core = n_nbr >= min_pts
    ce = core[pi] & core[qi] & (pi < qi)
    root = ops.min_label_roots(n, pi[ce], qi[ce])
    lbl = np.where(core, root, n)
    border = ~core[pi] & core[qi]
    np.minimum.at(lbl, pi[border], root[qi[border]])
    has = lbl < n
    out = pa.table({
        id_col: ids, "n_neighbors": n_nbr,
        "role": np.where(core, "core", np.where(has, "border", "noise")),
        "cluster": pa.array(ids[np.minimum(lbl, n - 1)], mask=~has)})
    return pairs.sparkSession.createDataFrame(
        out, f"{id_col} long, n_neighbors long, role string, cluster long")


def _dbscan_distributed(pairs: DataFrame, id_col: str, min_pts: int,
                        max_iters: int) -> DataFrame:
    """_dbscan_from_pairs as Spark jobs over the checkpointed pairs, which
    three consumers read: counts, core-core edges and the border probe.
    Components via ops.min_label_components; every exchange carries ids
    only."""
    from . import ops
    counts = pairs.groupBy("p_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"))
    core = counts.filter(F.col("n_neighbors") >= min_pts).select("p_id")
    core_edges = (pairs.filter(F.col("p_id") < F.col("q_id"))
                  .join(core, "p_id", "left_semi")
                  .join(core.select(F.col("p_id").alias("q_id")), "q_id",
                        "left_semi"))
    comp = ops.min_label_components(
        core.select(F.col("p_id").alias("id")),
        core_edges.select(F.col("p_id").alias("a"),
                          F.col("q_id").alias("b")),
        max_iters=max_iters)
    core_lbl = comp.select(F.col("id").alias("p_id"),
                           F.col("component_id").alias("_core_cl"))
    nbr_core = (pairs.filter(F.col("p_id") != F.col("q_id"))
                .join(comp.select(F.col("id").alias("q_id"),
                                  F.col("component_id").alias("_ncl")),
                      "q_id")
                .groupBy("p_id")
                .agg(F.min("_ncl").alias("_border_cl")))
    out = (counts.join(core_lbl, "p_id", "left")
           .join(nbr_core, "p_id", "left"))
    role = (F.when(F.col("_core_cl").isNotNull(), F.lit("core"))
            .when(F.col("_border_cl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")))
    cluster = F.when(F.col("_core_cl").isNotNull(), F.col("_core_cl")) \
               .otherwise(F.when(F.col("_border_cl").isNotNull(),
                                 F.col("_border_cl")))
    return out.select(F.col("p_id").alias(id_col), "n_neighbors",
                      role.alias("role"), cluster.alias("cluster"))


def dbscan_grid(pts: DataFrame, id_col: str, x_col: str, y_col: str,
                eps: int, min_pts: int, max_iters: int = 16) -> DataFrame:
    """Grid-accelerated DBSCAN over integer 2-D points — the density
    clustering primitive (stop/POI detection over geotagged traces, hot
    spot discovery) the KDE/k-means pair doesn't cover.  Returns one row
    per input point: (id, n_neighbors long, role string in
    {'core','border','noise'}, cluster long NULLABLE).

    Semantics (deterministic, oracle-able — classic DBSCAN's one
    nondeterminism is removed):
      * n_neighbors = |{q : dist(p,q) <= eps}| including p itself (the
        closed eps-neighborhood, as in the original DBSCAN paper);
      * core iff n_neighbors >= min_pts;
      * clusters are connected components of the core-core eps-graph;
        cluster label = MIN core id in the component;
      * a border point (non-core with >= 1 core neighbor) joins the
        MINIMUM cluster label among its core neighbors — classic DBSCAN
        assigns it to whichever cluster scanned it first (order-
        dependent); the min rule is the deterministic refinement;
      * noise: cluster NULL.

    100-TB shape: ONE grid-cell radius self-join (radius_join_2d — 9x
    cell-occupancy fan-out, never quadratic) materialized once via
    localCheckpoint.  Inputs below the pair envelope
    (DBSCAN_DRIVER_MAX_PAIRS) are labelled on the driver from one
    collect.  Above it three consumers read the pairs (counts, core-core
    edges, border probe); components via pointer-jumping min-label
    propagation (O(log diameter) rounds, (id,label)-only exchanges).
    Every exchange after the radius join carries ids only.
    """
    if min_pts < 1:
        raise ValueError("dbscan_grid: min_pts must be >= 1")
    base = pts.select(F.col(id_col).cast("long").alias("_id"),
                      F.col(x_col).cast("long").alias("_x"),
                      F.col(y_col).cast("long").alias("_y"))
    from . import ops
    a = base.select(F.col("_id").alias("p_id"), F.col("_x").alias("px"),
                    F.col("_y").alias("py"))
    b = base.select(F.col("_id").alias("q_id"), F.col("_x").alias("qx"),
                    F.col("_y").alias("qy"))
    pairs = (ops.radius_join_2d(a, b, [], "px", "py", "qx", "qy", eps,
                                a_id="p_id", b_id="q_id")
             .select("p_id", "q_id"))
    return _dbscan_from_pairs(pairs, id_col, min_pts, max_iters)


def dbscan_geo(pts: DataFrame, id_col: str, lat_col: str, lon_col: str,
               eps_m: float, min_pts: int, max_iters: int = 16) -> DataFrame:
    """Geodesic DBSCAN — dbscan_grid's spherical sibling over lat/lon
    points with a great-circle eps in meters: the stop/POI density
    clusterer run directly on geotagged traces with no planar
    projection (no distortion at high latitude, no antimeridian seam).
    Same deterministic semantics as dbscan_grid: closed eps-
    neighborhood counts (self included), core iff n >= min_pts,
    clusters = min-id components of the core-core eps-graph, border ->
    MIN neighboring core's cluster, noise NULL.

    The eps decision is the engine's fixed haversine IEEE tree
    (dist_m <= eps_m) — bit-portable, so the oracle replays the
    DEFINITION (all-pairs haversine + recursive closure) and the
    neighbor sets agree pair-for-pair cross-engine.  Candidates come
    from geo_radius_join's chord-space 3-D binning (27x bin-occupancy
    fan-out, wrap-free, never quadratic); the bins only gate
    candidates and never affect the decision.

    100-TB shape: identical to dbscan_grid — the radius join
    materializes once; inputs below the pair envelope
    (DBSCAN_DRIVER_MAX_PAIRS) are labelled on the driver; above it
    three consumers read the pairs, components via pointer-jumping
    min-label propagation, every exchange after the join carries ids
    only.
    """
    if min_pts < 1:
        raise ValueError("dbscan_geo: min_pts must be >= 1")
    base = pts.select(F.col(id_col).cast("long").alias("_id"),
                      F.col(lat_col).alias("_lat"),
                      F.col(lon_col).alias("_lon"))
    from . import ops
    a = base.select(F.col("_id").alias("p_id"), F.col("_lat").alias("plat"),
                    F.col("_lon").alias("plon"))
    b = base.select(F.col("_id").alias("q_id"), F.col("_lat").alias("qlat"),
                    F.col("_lon").alias("qlon"))
    pairs = (ops.geo_radius_join(a, b, "plat", "plon", "qlat", "qlon",
                                 eps_m, a_id="p_id", b_id="q_id")
             .select("p_id", "q_id"))
    return _dbscan_from_pairs(pairs, id_col, min_pts, max_iters)


def st_dbscan(pts: DataFrame, id_col: str, x_col: str, y_col: str,
              t_col: str, eps: int, eps_t: int, min_pts: int,
              max_iters: int = 40) -> DataFrame:
    """ST-DBSCAN (Birant & Kut) — density clustering with a SPATIAL and
    a TEMPORAL eps: the neighbor relation is dist² <= eps² AND
    |dt| <= eps_t, so a stop revisited a week later forms a separate
    cluster even at the same coordinates — the property plain DBSCAN
    cannot express and the one trajectory miners actually need.
    Identical deterministic semantics to dbscan_grid/dbscan_geo
    (closed neighborhoods incl. self, core iff n >= min_pts, min-id
    components of the core-core graph, border -> MIN neighboring
    core's cluster, noise NULL); the neighbor decision is exact int64
    arithmetic on both axes, so the oracle replays the definition.

    100-TB shape: ONE J15 spatiotemporal radius join (3-D banding —
    27x bin-occupancy fan-out, time- and space-sliced) materialized
    once.  Inputs below the pair envelope (DBSCAN_DRIVER_MAX_PAIRS) are
    labelled on the driver; above it the join's three consumers run,
    components via pointer-jumping, and every exchange after the join
    carries ids only.  max_iters (distributed side only) defaults
    HIGHER than the spatial variants (40 vs 16): ST core
    graphs are chains-of-cliques along the time axis (each stop links
    only its temporal neighbors), and min-label pointer-jumping on
    such chains needs ~2·log2(n) rounds in practice (measured: 23
    rounds for 1.5k cores at sf0.01), not the log2(diameter) the
    blob-shaped spatial graphs see.
    """
    if min_pts < 1:
        raise ValueError("st_dbscan: min_pts must be >= 1")
    base = pts.select(F.col(id_col).cast("long").alias("_id"),
                      F.col(x_col).cast("long").alias("_x"),
                      F.col(y_col).cast("long").alias("_y"),
                      F.col(t_col).cast("long").alias("_t"))
    from . import ops
    a = base.select(F.col("_id").alias("p_id"), F.col("_x").alias("px"),
                    F.col("_y").alias("py"), F.col("_t").alias("pt"))
    b = base.select(F.col("_id").alias("q_id"), F.col("_x").alias("qx"),
                    F.col("_y").alias("qy"), F.col("_t").alias("qt"))
    pairs = (ops.st_radius_join(a, b, [], ("px", "py", "pt"),
                                ("qx", "qy", "qt"), eps, eps_t,
                                a_id="p_id", b_id="q_id")
             .select("p_id", "q_id"))
    return _dbscan_from_pairs(pairs, id_col, min_pts, max_iters)
