"""Lloyd k-means over an embedding column — the coarse-quantizer /
corpus-clustering primitive a training-data pipeline uses for
cluster-balanced sampling, semantic dedup buckets, and IVF cell training.

Spark shape (the MLlib KMeans pattern, re-expressed on DataFrames):
  * each iteration's ASSIGN step is MAP-ONLY — the k x dim centroid
    matrix rides in the closure of an Arrow batch kernel (same closure
    strategy as `engine.episodes.knn_assign_collected`), so the corpus is
    never shuffled for assignment.  The kernel (_assign_arrow) is the
    bit-identical twin of the higher-order-function expression form
    (_assign_expr, kept as the semantic reference): same left-to-right
    fold order, same strict-less argmin — Spark interprets HOF exprs
    node by node (not codegen), measured ~10x slower at bench scale;
  * the UPDATE step is a posexplode -> groupBy(cl, dim) partial-agg: the
    exchange carries at most (partitions x k x dim) pre-combined rows,
    never the vectors; the k x dim result is collected to the driver
    (tiny — this is exactly what MLlib's runAlgorithm does per step);
  * total per iteration: one corpus scan + one k*dim-row shuffle.
  At 100 TB this is the right plan: assignment cost is the unavoidable
  O(n*k*dim) scan, and nothing vector-shaped ever crosses an exchange.

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
# (assignment replicates _assign_arrow's op order; update sums are exact
# order-free integer sums; centroid = one IEEE division either way).
# Past the envelope the distributed rounds run unchanged.
MAX_DRIVER_LLOYD_BYTES = 64 << 20


def quantize_vec(vec: Column, scale: float = QUANT_SCALE) -> Column:
    """float vector -> integer-valued double vector (exact-sum domain)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("double"))


def _dot_lit(e: Column, c: list[float]) -> Column:
    """Left-to-right dot(e, literal c) — mirrors DuckDB list_reduce."""
    arr = F.array(*[F.lit(float(v)) for v in c])
    return F.aggregate(F.zip_with(e, arr, lambda a, b: a * b),
                       F.lit(0.0), lambda acc, v: acc + v)


def _self_dot(c: list[float]) -> float:
    acc = 0.0
    for v in c:
        acc = acc + v * v
    return acc


def _assign_expr(cents: list[list[float]], vec: Column | None = None) -> Column:
    """argmin_j [ dot(c_j,c_j) - 2*dot(x,c_j) ], tiebreak lowest j.
    One codegen expression over the k-literal centroid closure; returns
    the winning (score, cl) struct.  `score` is dist^2 minus the
    per-row-constant dot(x,x) term (constant shifts don't move argmin).
    `vec` overrides the default `e` column (PQ assigns on subvector
    slices of the same quantized vector)."""
    e = F.col("e") if vec is None else vec
    cands = F.array(*[
        F.struct(
            (F.lit(_self_dot(c)) - 2.0 * _dot_lit(e, c))
            .alias("score"),
            F.lit(j).cast("long").alias("cl"))
        for j, c in enumerate(cents)])
    return F.array_min(cands)


def _assign_arrow(cents: list[list[float]], slices=None):
    """Arrow twin of _assign_expr: same argmin, same FLOAT OP ORDER —
    per dimension, acc = acc + x_d * c_d (a vectorized left-to-right
    fold), score = self_dot - 2.0 * acc, strict-less argmin so ties keep
    the lowest cluster id (array_min's lexicographic (score, cl)
    semantics).  Every elementwise numpy op is one correctly-rounded
    IEEE double op, so assignments and scores are bit-identical to the
    higher-order-function expression — which Spark interprets node by
    node (HOFs are not codegen'd; measured ~10x slower at bench scale).

    With ``slices`` (PQ): a list of (lo0, k_cents) per subspace — returns
    one struct column of m code fields instead of (score, cl).
    """
    if slices is None:
        C = [list(map(float, c)) for c in cents]
        sd = [_self_dot(c) for c in C]

        @F.pandas_udf("struct<score:double,cl:bigint>")
        def assign_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            import numpy as np
            for es in it:
                yield _assign_block(es, np)

        def _assign_block(es, np):
            n = len(es)
            if n == 0:
                return pd.DataFrame({"score": [], "cl": []})
            M = np.stack([np.asarray(v, dtype=np.float64) for v in es])
            best_s = None
            best_c = None
            for j, c in enumerate(C):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(len(c)):
                    acc = acc + M[:, d] * c[d]
                score = sd[j] - 2.0 * acc
                if best_s is None:
                    best_s, best_c = score, np.zeros(n, dtype=np.int64)
                else:
                    lt = score < best_s
                    best_s = np.where(lt, score, best_s)
                    best_c = np.where(lt, j, best_c)
            return pd.DataFrame({"score": best_s, "cl": best_c})

        return assign_udf

    m = len(cents)
    fields = ", ".join(f"c{s}:bigint" for s in range(m))
    CS = [[list(map(float, c)) for c in cents[s]] for s in range(m)]
    SD = [[_self_dot(c) for c in CS[s]] for s in range(m)]

    @F.pandas_udf(f"struct<{fields}>")
    def pq_assign_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for es in it:
            yield _pq_block(es, np)

    def _pq_block(es, np):
        n = len(es)
        if n == 0:
            return pd.DataFrame({f"c{s}": [] for s in range(m)})
        M = np.stack([np.asarray(v, dtype=np.float64) for v in es])
        out = {}
        for s, (lo, _) in enumerate(slices):
            sub = len(CS[s][0])
            Ms = M[:, lo:lo + sub]
            best_s = None
            best_c = None
            for j, c in enumerate(CS[s]):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(sub):
                    acc = acc + Ms[:, d] * c[d]
                score = SD[s][j] - 2.0 * acc
                if best_s is None:
                    best_s, best_c = score, np.zeros(n, dtype=np.int64)
                else:
                    lt = score < best_s
                    best_s = np.where(lt, score, best_s)
                    best_c = np.where(lt, j, best_c)
            out[f"c{s}"] = best_c
        return pd.DataFrame(out)

    return pq_assign_udf


def _assign_driver(M, cents):
    """Numpy twin of _assign_arrow's argmin for the driver Lloyd path —
    IDENTICAL float op order (acc = acc + M[:,d]*c[d] left-to-right,
    score = self_dot - 2.0*acc, strict-less argmin keeping the lowest
    cluster id), so assignments match the distributed rounds bit-for-bit."""
    import numpy as np
    n = M.shape[0]
    best_s = None
    best_c = None
    for j, c in enumerate(cents):
        acc = np.zeros(n, dtype=np.float64)
        for d in range(len(c)):
            acc = acc + M[:, d] * c[d]
        score = _self_dot(c) - 2.0 * acc
        if best_s is None:
            best_s, best_c = score, np.zeros(n, dtype=np.int64)
        else:
            lt = score < best_s
            best_s = np.where(lt, score, best_s)
            best_c = np.where(lt, j, best_c)
    return best_c


def _lloyd_driver_updates(q: DataFrame, cents: list[list[float]],
                          iters: int, k: int) -> list[list[float]]:
    """(iters-1) Lloyd updates on ONE driver collect of the quantized
    table — value-identical to the distributed rounds (see
    MAX_DRIVER_LLOYD_BYTES): assignment via _assign_driver (bit-equal op
    order), per-(cluster, dim) sums are exact order-free integer sums
    (< 2^53 by the module envelope), centroid = sum/count in one IEEE
    division exactly as the driver fold of the collected stats did."""
    import numpy as np
    M = np.array(q.select("e").toPandas()["e"].tolist(), dtype=np.float64)
    for _ in range(iters - 1):
        assign = _assign_driver(M, cents)
        nxt = []
        for j in range(k):
            members = M[assign == j]
            if len(members):
                s = members.sum(axis=0)
                nxt.append([float(v) / len(members) for v in s])
            else:
                nxt.append(cents[j])
        cents = nxt
    return cents


def _kmeans_core(df: DataFrame, k: int, iters: int, vec_col: str,
                 id_col: str, scale: float) -> DataFrame:
    """Shared Lloyd loop; returns ((vec_id, e, cl, score) DataFrame under
    the final centroids, final centroid lists) — score = dist^2 - dot(x,x)
    (see _assign_expr).  Below MAX_DRIVER_LLOYD_BYTES the (iters-1)
    centroid updates run on the driver (value-identical; one collect
    replaces a per-round scan + shuffle + collect); the final assignment
    is always the distributed map-only Arrow kernel."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    q = df.select(F.col(id_col).cast("long").alias("vec_id"),
                  quantize_vec(F.col(vec_col), scale).alias("e"))
    q = q.persist()
    try:
        init = sorted(q.orderBy("vec_id").limit(k).collect(),
                      key=lambda r: r["vec_id"])
        if len(init) < k:
            raise ValueError(f"k={k} exceeds {len(init)} input vectors")
        cents = [list(r["e"]) for r in init]
        dim = len(cents[0])
        if iters > 1 and q.count() * dim * 8 <= MAX_DRIVER_LLOYD_BYTES:
            cents = _lloyd_driver_updates(q, cents, iters, k)
        else:
            for it in range(iters - 1):
                assigned_it = q.withColumn("_b",
                                           _assign_arrow(cents)(F.col("e")))
                stats = (assigned_it
                         .select(F.col("_b.cl").alias("cl"),
                                 F.posexplode("e").alias("dim", "x"))
                         .groupBy("cl", "dim")
                         .agg(F.sum("x").alias("s"),
                              F.count(F.lit(1)).alias("n"))
                         .collect())
                upd: dict[int, list] = {}
                for r in stats:
                    upd.setdefault(r["cl"], [None] * dim)[r["dim"]] = \
                        r["s"] / r["n"]
                cents = [upd[j] if j in upd else cents[j] for j in range(k)]
        best = _assign_arrow(cents)(F.col("e"))
        assigned = q.withColumn("_b", best) \
                    .withColumn("cl", F.col("_b.cl")) \
                    .withColumn("score", F.col("_b.score")) \
                    .drop("_b")
        return assigned, cents
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
