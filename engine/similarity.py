"""Embedding similarity search over `embeddings(vec_id, embedding, label)`.

Two paths (SURVEY-mandated scale posture):
  * brute-force cosine top-k — exact baseline, native array exprs
    (zip_with + aggregate, JVM-side), O(n^2) pairs: correctness oracle and
    small-side path;
  * LSH-bucketed ANN — random-hyperplane sign bits -> bucket equi-join on
    (table, band) keys, exact cosine refine on candidates only.  The scale
    path: shuffle on short keys, no cross join.
Plus embedding-cosine near-dup pairs (sim >= threshold) on the same LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (df.withColumn("_v", v)
            .withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v")))))


def cosine_topk_bruteforce(df: DataFrame, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per vector (self-join).  Native exprs
    only; use on small/filtered sides or as the recall oracle for ANN."""
    n = with_norm(df, vec_col).select(F.col(id_col), "_v", "_norm")
    a = n.select(F.col(id_col).alias("a"), F.col("_v").alias("va"),
                 F.col("_norm").alias("na"))
    b = n.select(F.col(id_col).alias("b"), F.col("_v").alias("vb"),
                 F.col("_norm").alias("nb"))
    pairs = (a.crossJoin(b).filter(F.col("a") != F.col("b"))
             .withColumn("sim", _dot(F.col("va"), F.col("vb"))
                         / (F.col("na") * F.col("nb"))))
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), F.col("b").asc())
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("a", "b", F.round("sim", 4).alias("sim"), "rk"))


def cosine_threshold_pairs_bruteforce(df: DataFrame, threshold: float = 0.95,
                                      id_col: str = "vec_id",
                                      vec_col: str = "embedding") -> DataFrame:
    """Exact (a < b) pairs with cosine >= threshold (self-join).  O(n^2) by
    design — the recall oracle twin of cosine_near_dup_pairs, small sides
    only."""
    n = with_norm(df, vec_col).select(F.col(id_col), "_v", "_norm")
    a = n.select(F.col(id_col).alias("a"), F.col("_v").alias("va"),
                 F.col("_norm").alias("na"))
    b = n.select(F.col(id_col).alias("b"), F.col("_v").alias("vb"),
                 F.col("_norm").alias("nb"))
    pairs = (a.crossJoin(b).filter(F.col("a") < F.col("b"))
             .withColumn("sim", _dot(F.col("va"), F.col("vb"))
                         / (F.col("na") * F.col("nb"))))
    return (pairs.filter(F.col("sim") >= F.lit(threshold))
            .select("a", "b", F.round("sim", 4).alias("sim")))


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, bits))


def lsh_sign_buckets(df: DataFrame, dim: int, bits: int = 16, bands: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH: `bits`-bit sign sketch split into `bands`
    bucket keys.  One Arrow kernel (matrix multiply per batch)."""
    H = _hyperplanes(dim, bits, seed)
    r = bits // bands

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = ((M @ H) > 0).astype(np.int64)            # (n, bits)
        pw = np.int64(1) << np.arange(r, dtype=np.int64)  # bucket key per band
        keys = signs.reshape(len(M), bands, r) @ pw       # (n, bands)
        return pd.Series(list(keys))

    return df.withColumn("_buckets", bucket_udf(F.col(vec_col)))


@F.pandas_udf(T.DoubleType())
def _cosine_batch(va: pd.Series, vb: pd.Series, na: pd.Series,
                  nb: pd.Series) -> pd.Series:
    """Arrow cosine refine: ~100x the interpreted higher-order-function
    exprs on large candidate sets (aggregate/zip_with are not codegen'd)."""
    if len(va) == 0:
        return pd.Series([], dtype="float64")
    A = np.stack([np.asarray(v, dtype=np.float64) for v in va])
    B = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
    return pd.Series(np.einsum("ij,ij->i", A, B)
                     / (na.to_numpy(np.float64) * nb.to_numpy(np.float64)))


# Closure-gather refine envelope (the knn_assign_collected / classifier
# driver-envelope precedent): when the normed vector table fits this many
# bytes, the exact-cosine refine gathers both endpoints' vectors from a
# collected closure matrix inside ONE map-only Arrow kernel instead of
# two shuffle/broadcast join-backs — the candidate-pair stream then
# carries 16 B/pair, never vectors.  Values are bit-identical: the
# vectors AND the norms are collected from the same Spark-computed
# `with_norm` projection the join path reads, and the kernel runs the
# identical einsum/divide.  Past the envelope the join-back runs
# unchanged.
ANN_REFINE_CLOSURE_MAX_BYTES = 64 << 20


def _lsh_candidate_sims(df: DataFrame, dim: int, bits: int, bands: int,
                        id_col: str, vec_col: str, seed: int) -> DataFrame:
    """LSH candidate pairs (shared >= 1 band bucket) with exact cosine —
    UNDIRECTED: one row per pair, a < b (cosine is symmetric; callers
    needing both directions mirror AFTER the refine, halving the heavy
    stages — see ann_cosine_topk).

    Scale shape: the band bucketing and candidate dedup move BARE ids
    (16 B/pair) — vectors are joined back exactly once per side AFTER the
    distinct.  Shipping the ~1 KB embeddings through the bands-fold
    duplicated exchange + distinct was the single heaviest shuffle in the
    round-1 bench (ann_topk 124 s; 2.2x the whole geo pipeline).

    Deliberately the SELF-JOIN form, unlike text.lsh_candidate_pairs's
    bucket-grouping: sign-LSH buckets are coarse (2^(bits/bands) buckets
    per band — thousands of ids each at small r), and a collect_list +
    per-row array slice over mega-buckets concentrates O(bucket^2) work
    in a handful of tasks (measured 4x SLOWER at sf0.1); the distributed
    hash join streams the same pairs across all cores.  MinHash dedup
    buckets are near-dup-only (tiny), which is why grouping wins there.
    """
    bk = lsh_sign_buckets(df.select(id_col, vec_col), dim, bits, bands,
                          id_col, vec_col, seed)
    # Persist the NARROW (id, band, bucket) band rows: the self-join
    # evaluates its subplan once per side, so without the cache the sign
    # UDF (a full matmul over the corpus) runs TWICE.  Same for the
    # normed-vector table both refine joins read.  The caller
    # eager-materializes its (small) output and releases both caches —
    # the ivf_cosine_topk hygiene pattern; callers pass `caches`.
    exploded = bk.select(
        F.col(id_col), F.posexplode("_buckets").alias("band", "bucket")) \
        .persist()
    l = exploded.select(F.col(id_col).alias("a"), "band", "bucket")
    r = exploded.select(F.col(id_col).alias("b"), "band", "bucket")
    pairs = (l.join(r, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
             .select("a", "b").distinct())
    nn = with_norm(df, vec_col).select(F.col(id_col), "_v", "_norm") \
        .persist()
    id_is_long = isinstance(nn.schema[0].dataType, T.LongType)
    if id_is_long and nn.count() * dim * 8 <= ANN_REFINE_CLOSURE_MAX_BYTES:
        rows = nn.collect()
        nn.unpersist()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        V = np.array([list(r[1]) for r in rows], dtype=np.float64)
        Nm = np.array([r[2] for r in rows], dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, V, Nm = ids[order], V[order], Nm[order]

        def refine(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ia = np.searchsorted(ids, pdf["a"].to_numpy(np.int64))
                ib = np.searchsorted(ids, pdf["b"].to_numpy(np.int64))
                sim = (np.einsum("ij,ij->i", V[ia], V[ib])
                       / (Nm[ia] * Nm[ib]))
                yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"],
                                    "sim": sim})

        sims = pairs.mapInPandas(refine, "a long, b long, sim double")
        return sims, [exploded]
    va = nn.select(F.col(id_col).alias("a"), F.col("_v").alias("va"),
                   F.col("_norm").alias("na"))
    vb = nn.select(F.col(id_col).alias("b"), F.col("_v").alias("vb"),
                   F.col("_norm").alias("nb"))
    cand = pairs.join(va, "a").join(vb, "b")
    sims = (cand.withColumn("sim", _cosine_batch(F.col("va"), F.col("vb"),
                                                 F.col("na"), F.col("nb")))
            .drop("va", "vb", "na", "nb"))
    return sims, [exploded, nn]


def ann_cosine_topk(df: DataFrame, k: int = 5, dim: int = 64,
                    bits: int = 16, bands: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> DataFrame:
    """ANN top-k: hyperplane-LSH candidates (union over bands) + exact
    cosine refine.  Recall vs brute force is property-tested.

    The refine runs once per UNDIRECTED pair; both directions are emitted
    by mirroring the refined (a, b, sim) rows — not by re-joining vectors
    — before the per-query top-k window.

    Executes EAGERLY: the result is materialized with
    localCheckpoint(eager=True) before the LSH caches are released, so
    the call itself runs the LSH + refine jobs (it is not a lazy
    transform), and the checkpointed blocks live until the returned
    DataFrame is garbage-collected."""
    sims, caches = _lsh_candidate_sims(df, dim, bits, bands, id_col,
                                       vec_col, seed)
    # the mirror union references `sims` twice; cache it so the refine
    # (joins + Arrow cosine kernel) runs once, not once per direction
    sims = sims.persist()
    caches.append(sims)
    try:
        both = sims.unionByName(sims.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "sim"))
        w = Window.partitionBy("a").orderBy(F.col("sim").desc(),
                                            F.col("b").asc())
        return (both.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select("a", "b", F.round("sim", 4).alias("sim"), "rk")
                .localCheckpoint(eager=True))
    finally:
        for c in caches:
            c.unpersist()


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                          dim: int = 64, bits: int = 16, bands: int = 4,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          seed: int = 42) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, sim >= threshold) via LSH
    candidates + exact refine.

    Executes EAGERLY, like ann_cosine_topk: the result is materialized
    with localCheckpoint(eager=True) before the LSH caches are released,
    so the call itself runs the jobs."""
    sims, caches = _lsh_candidate_sims(df, dim, bits, bands, id_col,
                                       vec_col, seed)
    try:
        return (sims.filter((F.col("sim") >= threshold)
                            & (F.col("a") < F.col("b")))
                .select("a", "b", F.round("sim", 4).alias("sim"))
                .localCheckpoint(eager=True))
    finally:
        for c in caches:
            c.unpersist()


# ---------------------------------------------------------------------------
# IVF (inverted-file) cosine ANN — the coarse-quantizer scale path.
#
# Complements the hyperplane-LSH path above with the FAISS-IVF shape
# (public: Johnson, Douze, Jegou, "Billion-scale similarity search with
# GPUs", 2017): train C centroids on a bounded sample, index every database
# vector in its single nearest cell, probe the nprobe nearest cells per
# query, and refine with one dense matmul PER CELL inside a cogrouped Arrow
# kernel.  Scale posture vs the LSH path:
#   * candidate pairs NEVER materialize as shuffled rows — they exist only
#     inside the per-cell matmul;
#   * each database vector crosses the exchange exactly once (its cell),
#     each query vector at most nprobe times;
#   * shuffle keys are 4-byte cell ids; cell sizes are k-means-balanced, and
#     a hot cell splits via AQE skew handling on the cogroup exchange.
# At 10^9 vectors / 2^16 cells a cell holds ~15k vectors -> a (nq x 15k)
# matmul per probe, which is the intended regime.


def _train_centroids(df: DataFrame, n_centroids: int, dim: int,
                     id_col: str, vec_col: str, seed: int,
                     sample_rows: int = 20_000, iters: int = 8) -> np.ndarray:
    """Deterministic spherical k-means on a bounded driver sample.

    The sample is taken by hash-ordered TakeOrdered (top-k per partition,
    merge on driver — no full sort, no full collect), so it is deterministic
    for a given input regardless of partition count.  Lloyd iterations run
    in numpy on <= sample_rows vectors; centroids are L2-normalized so
    assignment is argmax dot == argmin angular distance.
    """
    samp = (df.select(F.col(vec_col).alias("v"),
                      F.xxhash64(F.col(id_col)).alias("_h"))
            .orderBy("_h").limit(sample_rows).toPandas())
    M = np.stack([np.asarray(v, dtype=np.float64) for v in samp["v"]])
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(M))
    rng = np.random.default_rng(seed)
    C = M[rng.choice(len(M), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(M @ C.T, axis=1)                  # (n,)
        for j in range(k):
            members = M[assign == j]
            if len(members):
                C[j] = members.sum(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_cosine_topk(df: DataFrame, k: int = 5, n_centroids: int = 32,
                    nprobe: int = 8, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> DataFrame:
    """IVF ANN top-k cosine self-search over `df`.

    Output schema matches ann_cosine_topk: (a, b, sim, rk).  Recall vs the
    brute-force oracle is property-tested (tests/test_similarity.py); exact
    for clustered corpora when nprobe covers the query's true cell
    neighborhood.
    """
    C = _train_centroids(df, n_centroids, dim, id_col, vec_col, seed)
    nprobe_eff = min(nprobe, len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T                                        # (n, k)
        idx = np.argsort(-sims, axis=1)[:, :nprobe_eff].astype(np.int32)
        return pd.Series(list(idx))

    # `base` feeds BOTH cogroup sides — persist it so the source scan and
    # the probe UDF (a full matmul against the centroid matrix) run ONCE,
    # not once per side (measured ~25% of the stage at bench scale); the
    # final top-k is eager-checkpointed below so the cache releases inside
    # the call (the ivfpq_topk hygiene pattern).  MEMORY_AND_DISK default:
    # at cluster scale this holds exactly what the cogroup exchange must
    # ship anyway (id, vector, probe list).
    base = (df.select(F.col(id_col).alias("vid"),
                      F.col(vec_col).alias("vec"))
            .withColumn("_cells", probe_cells(F.col("vec"))).persist())
    # database side: each vector lives in exactly ONE cell (element 0)
    db = base.select(F.col("vid"), F.col("vec"),
                     F.element_at("_cells", 1).alias("cell"))
    # query side: ids + probed cells only — vectors ride the db side once
    # and the query side nprobe times; nothing else crosses the exchange
    q = base.select(F.col("vid"), F.col("vec"),
                    F.explode("_cells").alias("cell"))

    out_schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ])

    def cell_refine(key, qpdf: pd.DataFrame, dpdf: pd.DataFrame) \
            -> pd.DataFrame:
        if qpdf.empty or dpdf.empty:
            return pd.DataFrame({"a": [], "b": [], "sim": []})
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["vec"]])
        D = np.stack([np.asarray(v, dtype=np.float64) for v in dpdf["vec"]])
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        Dn = D / np.maximum(np.linalg.norm(D, axis=1, keepdims=True), 1e-12)
        S = Qn @ Dn.T                                         # (nq, nd)
        qa = qpdf["vid"].to_numpy()
        db_ids = dpdf["vid"].to_numpy()
        S[qa[:, None] == db_ids[None, :]] = -np.inf           # drop self
        kk = min(k, S.shape[1])
        top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        rows_a = np.repeat(qa, kk)
        rows_b = db_ids[top.ravel()]
        rows_s = np.take_along_axis(S, top, axis=1).ravel()
        keep = np.isfinite(rows_s)
        return pd.DataFrame({"a": rows_a[keep], "b": rows_b[keep],
                             "sim": rows_s[keep]})

    try:
        partial = (q.groupBy("cell").cogroup(db.groupBy("cell"))
                   .applyInPandas(cell_refine, out_schema))
        # global merge: per-cell partial top-k -> exact top-k over probed
        # cells.  A query meets a db vector in at most one cell per probe,
        # but the SAME (a, b) can surface from two probes when b's cell is
        # probed twice — impossible here (cells are distinct per query),
        # so no dedup needed.
        w = Window.partitionBy("a").orderBy(F.col("sim").desc(),
                                            F.col("b").asc())
        return (partial.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select("a", "b", F.round("sim", 4).alias("sim"), "rk")
                .localCheckpoint(eager=True))
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN — FAISS IndexPQ shape
# ---------------------------------------------------------------------------

def pq_train_encode(df: DataFrame, m: int = 4, n_codes: int = 16,
                    iters: int = 2, vec_col: str = "embedding",
                    id_col: str = "vec_id", dim: int = 64,
                    scale: float | None = None):
    """Product-quantization codebooks + codes (Jégou et al. 2011, the
    FAISS IndexPQ build): split each vector into ``m`` subvectors, run
    Lloyd k-means with ``n_codes`` centroids PER SUBSPACE, store each
    vector as m small codes (m bytes at n_codes=256 — a 64x compression
    of a 64-dim float vector; the reason PQ is how billion-vector indexes
    fit in RAM).

    Spark-first improvement over the FAISS per-subspace training loop:
    all m subspace k-means run IN ONE PASS per iteration of
    engine/clustering.py's one Lloyd loop (_lloyd; k-means is its m = 1
    case) — assignment is a single map-only Arrow kernel evaluating m
    closure argmins, and the update is one exchange carrying at most
    (partitions x m x n_codes x dim/m) pre-combined rows, or one driver
    collect below clustering.MAX_DRIVER_LLOYD_BYTES.  Total cost per
    iteration: one corpus scan + one tiny shuffle, independent of m.

    Exactness contract: engine/clustering.py's quantized-integer-double
    arithmetic and left-to-right dot folds, per subspace — every
    assign/update decision is bit-portable cross-engine (the driver
    oracle replays all m chains).  Init: subspace s's centroid j is the
    s-th slice of the j-th lowest-id vector.

    Returns (codes_df, cents): codes_df = (vec_id, e, c0..c{m-1}) with
    `e` the quantized full vector; cents[s][j] = subspace centroid
    (list of dim/m floats) as of the FINAL assignment.
    """
    from .clustering import QUANT_SCALE, quantize_vec
    sc = QUANT_SCALE if scale is None else scale
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 1 or iters < 1:
        raise ValueError("n_codes and iters must be >= 1")
    q = df.select(F.col(id_col).cast("long").alias("vec_id"),
                  quantize_vec(F.col(vec_col), sc).alias("e")).persist()
    try:
        return _pq_core(q, m, n_codes, iters)
    finally:
        q.unpersist()


def _pq_core(q: DataFrame, m: int, n_codes: int, iters: int):
    """PQ as clustering._lloyd over m subspaces of a prepared (...,
    vec_id, e) frame whose `e` holds integer-valued doubles (quantized
    vectors OR integer residuals — the IVFPQ path).  All non-`e` input
    columns pass through to the coded output.  Returns (codes_df,
    cents[m][n_codes])."""
    from .clustering import _lloyd
    coded, cents = _lloyd(q, m, n_codes, iters)
    passthrough = [c for c in q.columns if c != "e"]
    return coded.select(*passthrough, "e",
                        *[F.col(f"_cs.c{s}").alias(f"c{s}")
                          for s in range(m)]), cents


# LUT-closure query ceiling for PQ/IVFPQ search: nq x m x n_codes doubles
# ride the kernel closure; past this, compose with IVF cells (IndexIVFPQ)
# or shard the query set
PQ_MAX_QUERIES = 65_536


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str,
                     scale: float, quantize_vec) -> list:
    """Driver-collect the (bounded) query set, ENFORCING the documented
    envelope before the collect — the knn_assign_collected pattern: a
    latent 100x-scale footgun becomes an explicit plan choice."""
    sel = queries.select(F.col(id_col).cast("long").alias("vec_id"),
                         quantize_vec(F.col(vec_col), scale).alias("e"))
    n = sel.limit(PQ_MAX_QUERIES + 1).count()
    if n > PQ_MAX_QUERIES:
        raise ValueError(
            f"query set exceeds the LUT-closure ceiling "
            f"({PQ_MAX_QUERIES}); shard the queries or compose with IVF "
            f"cells (ivfpq_topk with nprobe << n_cells)")
    rows = sel.collect()
    if not rows:
        raise ValueError("queries is empty")
    return rows


def pq_adc_topk(df: DataFrame, queries: DataFrame, k: int = 3, m: int = 4,
                n_codes: int = 16, iters: int = 2,
                vec_col: str = "embedding", id_col: str = "vec_id",
                dim: int = 64, scale: float | None = None) -> DataFrame:
    """PQ asymmetric-distance top-k (FAISS IndexPQ search): exact queries
    against PQ-encoded database vectors.  Per query, distance to a coded
    vector is the sum over subspaces of a precomputed lookup —
    LUT[s][code] = ||c_{s,code}||^2 - 2 * q_s . c_{s,code}  (squared L2
    minus the per-query-constant ||q||^2 term, which never moves ranks).

    Scale shape:
      * queries collect to the driver and ride as LUT LITERALS inside the
        Arrow kernel closure (nq x m x n_codes doubles; the documented
        envelope is ~10^4 queries — beyond that, compose with IVF cells
        exactly as FAISS IndexIVFPQ does, using engine.ivf_cosine_topk's
        cell machinery to bound candidates per query);
      * the scan is MAP-ONLY over the CODES (m int64s per row, never the
        vectors), with a per-Arrow-batch partial top-k — the exchange
        carries at most batches x nq x k candidate rows, never the scan;
      * the final per-query merge windows over that tiny candidate set.

    Determinism: partial-then-global top-k equals global top-k under the
    total order (adc, b); LUTs use the same left-to-right folds as the
    codebooks, so the DuckDB oracle replays scores bit-for-bit.

    Output: (a, b, rk, adc) — rk 1-based by (adc asc, b asc), self-pairs
    excluded.  Recall vs exact L2 is property-tested; the ADC values
    themselves are exact given the codes (that is PQ's contract).
    """
    from .clustering import QUANT_SCALE, _fold_dot, quantize_vec
    sc = QUANT_SCALE if scale is None else scale
    sub = dim // m
    codes, cents = pq_train_encode(df, m=m, n_codes=n_codes, iters=iters,
                                   vec_col=vec_col, id_col=id_col, dim=dim,
                                   scale=sc)
    qrows = _collect_queries(queries, id_col, vec_col, sc, quantize_vec)

    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    # LUT[qi, s, j] — every term a left-to-right float fold (oracle order)
    lut = np.empty((len(qrows), m, n_codes), dtype=np.float64)
    for qi, r in enumerate(qrows):
        for s in range(m):
            qs = list(r["e"][s * sub:(s + 1) * sub])
            for j in range(n_codes):
                c = cents[s][j]
                lut[qi, s, j] = _fold_dot(c, c) - 2.0 * _fold_dot(qs, c)

    out_schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("adc", T.DoubleType()),
    ])

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.stack([pdf[f"c{s}"].to_numpy() for s in range(m)],
                         axis=1)                       # (nB, m)
            outs = []
            for qi in range(len(q_ids)):
                # accumulate subspace terms in s order (left-to-right)
                adc = lut[qi, 0][C[:, 0]].copy()
                for s in range(1, m):
                    adc += lut[qi, s][C[:, s]]
                mask = ids != q_ids[qi]
                a_ids, a_adc = ids[mask], adc[mask]
                top = np.lexsort((a_ids, a_adc))[:k]
                outs.append(pd.DataFrame({
                    "a": np.full(len(top), q_ids[qi], dtype=np.int64),
                    "b": a_ids[top], "adc": a_adc[top]}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = codes.select("vec_id", *[f"c{s}" for s in range(m)]) \
                .mapInPandas(scan, out_schema)
    w = Window.partitionBy("a").orderBy(F.col("adc").asc(), F.col("b").asc())
    return (cand.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select("a", "b", "rk", "adc"))


def ivfpq_topk(df: DataFrame, queries: DataFrame, k: int = 3,
               n_cells: int = 4, nprobe: int | None = None, m: int = 4,
               n_codes: int = 8, iters_coarse: int = 2, iters_pq: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id",
               dim: int = 64, scale: float | None = None) -> DataFrame:
    """IVF + PQ composition — the FAISS IndexIVFPQ build, THE
    billion-vector search design: a coarse quantizer partitions the
    database into cells; each vector is stored as its cell id plus the PQ
    codes of its RESIDUAL (vector minus cell centroid); a query probes
    ``nprobe`` cells and scores candidates by per-(query, cell) ADC
    lookup tables.  Residual encoding is what makes PQ codes accurate —
    residuals are small and centered, so the shared codebooks spend their
    resolution where the data is.

    Exactness twist that keeps the whole chain oracle-replayable: coarse
    centroids are ROUNDED TO THE QUANT GRID (floor(c + 0.5) per dim)
    before residuals are taken, so residuals stay integer-valued doubles
    and every PQ training sum remains order-independent (the
    engine/clustering.py contract).  The rounding costs at most half a
    quant step of residual accuracy — negligible against PQ distortion.

    Scale shape: coarse train = kmeans per-iteration scan + tiny update
    shuffle; residual + encode = MAP-ONLY (cell centroid matrix and PQ
    codebooks are literal closures); search = map-only ADC scan over
    (cell, m codes) rows with per-batch partial top-k, exchange
    <= batches x nq x k.  nprobe defaults to n_cells (exhaustive — the
    oracle mode); production uses nprobe << n_cells, which only shrinks
    the scan mask.

    Output: (a, b, rk, adc) — rk 1-based by (adc asc, b asc) among
    candidates in probed cells, self-pairs excluded.  `adc` is the full
    approximate squared L2 ||q - (c_cell + recon)||^2: the per-subspace
    LUT includes the ||qres_s||^2 term because it varies per CELL —
    dropping it (the plain-PQ shortcut) would bias ranks toward far
    cells.
    """
    import math

    from .clustering import (QUANT_SCALE, _fold_dot, _kmeans_core,
                             quantize_vec)
    sc = QUANT_SCALE if scale is None else scale
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    np_eff = n_cells if nprobe is None else min(nprobe, n_cells)

    coarse, cents_c = _kmeans_core(df, n_cells, iters_coarse, vec_col,
                                   id_col, sc)
    cents_int = [[float(math.floor(v + 0.5)) for v in c] for c in cents_c]
    cmat = F.array(*[F.array(*[F.lit(v) for v in c]) for c in cents_int])
    resid = coarse.select(
        "vec_id", F.col("cl").alias("cell"),
        F.zip_with(F.col("e"), F.element_at(cmat, F.col("cl").cast("int") + 1),
                   lambda a, b: a - b).alias("e")).persist()
    try:
        codes, cents_pq = _pq_core(resid, m, n_codes, iters_pq)

        qrows = _collect_queries(queries, id_col, vec_col, sc, quantize_vec)

        q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
        nq = len(qrows)
        # probe ranking: same argmin score as assignment, ties by cell id
        probed = np.zeros((nq, n_cells), dtype=bool)
        lut = np.empty((nq, n_cells, m, n_codes), dtype=np.float64)
        for qi, r in enumerate(qrows):
            qe = list(r["e"])
            scores = sorted(
                (( _fold_dot(c, c) - 2.0 * _fold_dot(qe, c)), j)
                for j, c in enumerate(cents_c))
            for (_, j) in scores[:np_eff]:
                probed[qi, j] = True
            for cell in range(n_cells):
                if not probed[qi, cell]:
                    continue
                qres = [a - b for a, b in zip(qe, cents_int[cell])]
                for s in range(m):
                    qs = qres[s * sub:(s + 1) * sub]
                    qd = _fold_dot(qs, qs)
                    for j in range(n_codes):
                        c = cents_pq[s][j]
                        # FULL per-subspace squared distance — the
                        # ||qres_s||^2 term varies per CELL, so unlike
                        # plain PQ it cannot be dropped without biasing
                        # ranks toward far cells (FAISS includes it too)
                        lut[qi, cell, s, j] = \
                            (qd + _fold_dot(c, c)) - 2.0 * _fold_dot(qs, c)

        out_schema = T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ])

        def scan(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["vec_id"].to_numpy()
                cells = pdf["cell"].to_numpy().astype(np.int64)
                C = np.stack([pdf[f"c{s}"].to_numpy() for s in range(m)],
                             axis=1)
                outs = []
                for qi in range(nq):
                    mask = probed[qi][cells] & (ids != q_ids[qi])
                    if not mask.any():
                        continue
                    mc, mi = cells[mask], ids[mask]
                    mcode = C[mask]
                    adc = lut[qi, mc, 0, mcode[:, 0]].copy()
                    for s in range(1, m):
                        adc += lut[qi, mc, s, mcode[:, s]]
                    top = np.lexsort((mi, adc))[:k]
                    outs.append(pd.DataFrame({
                        "a": np.full(len(top), q_ids[qi], dtype=np.int64),
                        "b": mi[top], "adc": adc[top]}))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        cand = codes.select("vec_id", "cell",
                            *[f"c{s}" for s in range(m)]) \
                    .mapInPandas(scan, out_schema)
        w = Window.partitionBy("a").orderBy(F.col("adc").asc(),
                                            F.col("b").asc())
        out = (cand.withColumn("rk", F.row_number().over(w).cast("long"))
               .filter(F.col("rk") <= k)
               .select("a", "b", "rk", "adc"))
        # materialize the (small: <= nq*k rows) top-k eagerly so the
        # cached residual table can be released before returning — a
        # destroy hook hung off the DataFrame is never reliably invoked
        # and would leave resid cached for the rest of the session.
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        resid.unpersist()


# ---------------------------------------------------------------------------
# scalar quantization (vector-store compression)
# ---------------------------------------------------------------------------

def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Per-vector max-abs int8 scalar quantization — the 4x compression
    step a vector store applies before ANN indexing (FAISS SQ8 shape):
    q_d = floor(x_d / max|x| * 127 + 0.5), all-zero vectors quantize to
    zeros.  MAP-ONLY native expressions (scan-speed at 100 TB; the scale
    and codes never require a shuffle).  Output is exploded to scalar
    rows (id, dim, q) — dim 0-based — so cross-engine comparison hashes
    plain integers; every float op is one correctly-rounded IEEE
    division/multiply/floor on doubles, so DuckDB replays bit-exact.
    """
    e = F.col(vec_col).cast("array<double>")
    df = emb.select(F.col(id_col), e.alias("_e"),
                    F.array_max(F.transform(e, F.abs)).alias("_mx"))
    q = F.transform(
        F.col("_e"),
        lambda x: F.when(F.col("_mx") == 0.0, F.lit(0).cast("int"))
                   .otherwise(F.floor(x / F.col("_mx") * F.lit(127.0)
                                      + F.lit(0.5)).cast("int")))
    return (df.select(id_col, F.posexplode(q).alias("dim", "q"))
            .select(F.col(id_col), F.col("dim").cast("int").alias("dim"),
                    F.col("q")))
