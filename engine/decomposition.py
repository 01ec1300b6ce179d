"""Distributed PCA / truncated SVD over `embeddings(vec_id, embedding)`.

The 100-TB shape (the MLlib/computeSVD classic): the only thing that ever
crosses an exchange is the dim x dim Gram matrix — each Arrow batch
contributes ONE partial outer-product block (whole-batch numpy matmul, the
treeAggregate pattern), partials sum in a dim^2-row aggregation, the tiny
eigenproblem solves on the driver, and the projection back over the corpus
is MAP-ONLY with the components riding as literal arrays.  The corpus is
never shuffled and no per-row Python runs in the projection.

Two modes, the repo's established dual contract:

* `pca_power_quant` — bit-portable integer mode: inputs quantize to
  2^20-step integers, centering multiplies through by n so it stays
  integral (y'_i = floordiv(n*qx_i - S_i, n) — exact floor division via
  the pmod identity in BOTH engines), the Gram matrix is an exact int64
  sum, a data-dependent ceil divisor D caps entries at 2^30, and 8 power-
  iteration rounds renormalize by max-abs (floor division, NO sqrt/libm)
  at 2^10 component scale.  Every intermediate provably fits int64:
  |qx| < 2^20, |y'| <= 2^20, |G| <= n*2^40, |g'| <= 2^30,
  |w| <= 64*2^30*2^10 = 2^46, |w*2^10| <= 2^56, |score| <= 2^36.
  The DuckDB oracle replays quantize -> center -> Gram -> scale -> all 8
  rounds -> projection value-for-value (sums cast from HUGEIT back to
  BIGINT per the DuckDB SUM contract).

* `pca` — float top-k mode: float64 Gram/covariance by the same partial-
  block plan, driver `numpy.linalg.eigh`, map-only projection onto the
  top-k components.  Numpy-golden (and the quant direction is checked
  against this mode's PC1 by cosine in pytest).

Power iteration under max-abs normalization converges to the dominant
eigenvector like any other normalization (it only rescales); the quant
mode's contract is the exact replay of a FIXED 8 rounds, and its quality
vs the true eigenvector is pinned separately by the float-mode cosine
test — the same split every quant/float twin in this repo uses.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import bin_floor

SCALE_X = 1 << 20   # input quantization step
SCALE_V = 1 << 10   # component scale during iterations
G_CAP = 1 << 30     # post-division Gram entry bound
DEFAULT_ROUNDS = 8


def quantize_col(vec_col, scale: int = SCALE_X):
    """array<float> -> array<long>: floor(x * scale) per element.  The
    float32 -> double widen and the *2^k product are both exact, so any
    engine reading the same parquet bits computes the same integers."""
    return F.transform(vec_col,
                       lambda x: F.floor(x.cast("double") * F.lit(scale))
                       .cast("long"))


def _gram_blocks(emb: DataFrame, centered_expr, dim: int,
                 dtype: str) -> DataFrame:
    """One (i, j, g) partial block per Arrow batch: Y^T @ Y as a whole-
    batch numpy matmul (int64 or float64), emitted as dim^2 tiny rows.
    Partials then sum in one aggregation — total exchange traffic is
    n_batches * dim^2 rows regardless of corpus size."""
    src = emb.select(centered_expr.alias("_y"))
    np_t = np.int64 if dtype == "long" else np.float64

    def blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        for pdf in batches:
            if not len(pdf):
                continue
            y = np.stack(pdf["_y"].to_numpy()).astype(np_t)
            g = y.T @ y
            yield pd.DataFrame({"i": ii.ravel().astype(np.int32),
                                "j": jj.ravel().astype(np.int32),
                                "g": g.ravel()})

    part = src.mapInPandas(blocks, schema=f"i int, j int, g {dtype}")
    return part.groupBy("i", "j").agg(F.sum("g").alias("g"))


def _centered_quant_expr(dim: int, n: int, sums: list[int]):
    """y'_i = floordiv(n * qx_i - S_i, n) as a native expression (the
    integral centering: centered value times n, divided back with exact
    floor division — bit-identical in Spark and DuckDB).

    zip_with, not transform+element_at: element_at(qx, i) inlines the
    whole quantize transform per extracted element, so the sequence form
    evaluated it dim times per row (O(dim^2) interpreted HOF work); the
    zip references qx ONCE.  Per-element arithmetic is unchanged."""
    s_lit = F.lit([int(v) for v in sums])
    qx = quantize_col(F.col("embedding"))
    return F.zip_with(qx, s_lit,
                      lambda x, s: bin_floor(F.lit(n) * x - s, F.lit(n)))


def _quant_stats(emb: DataFrame, dim: int) -> tuple[int, list[int]]:
    """Driver scalars for centering: row count + per-dim quantized sums
    (one tiny aggregate; 64 longs cross the wire)."""
    # materialize qx as an attribute through a one-element explode (the
    # extract_points Generate-barrier trick): each of the dim per-dim sums
    # references element_at(qx, i), and on a bare alias the optimizer
    # inlines the whole quantize transform into every reference —
    # O(dim^2) interpreted HOF work per row.
    qx = quantize_col(F.col("embedding"))
    row = (emb.select(F.explode(F.array(qx)).alias("_qx"))
           .agg(
        F.count(F.lit(1)).alias("n"),
        F.array(*[F.sum(F.element_at(F.col("_qx"), i + 1))
                  for i in range(dim)])
        .alias("s")).collect()[0])
    n = int(row["n"])
    if n == 0:
        raise ValueError("empty input")
    return n, [int(v) for v in row["s"]]


def pca_power_quant(emb: DataFrame, dim: int = 64,
                    rounds: int = DEFAULT_ROUNDS,
                    id_col: str = "vec_id") -> DataFrame:
    """Bit-portable first principal direction + per-row projection.
    Returns (id_col, pc1_score) with score = sum_i y'_i * v_i, where v is
    the integer power-iteration state after `rounds` fixed rounds.
    The dim^2 Gram collect and the 64-long sums are the only driver
    materializations — both sub-envelope constants, not data-sized.
    Int64 safety is only provable for n < 2^23 rows (|G| <= n*2^40);
    that envelope is ENFORCED with a raise below, mirroring the other
    quant operators' guards."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    n, sums = _quant_stats(emb, dim)
    # Provable int64 envelope: each centered product |y'_i * y'_j| <= 2^40,
    # so |G_ij| <= n * 2^40 only fits int64 for n < 2^23 (and the bin_floor
    # exactness argument |n*qx - S| < 2^53 needs n << 2^32).  numpy int64
    # matmul and Spark long sums both wrap SILENTLY past that, so enforce
    # the envelope with a raise like every other quant operator.
    if n >= (1 << 23):
        raise ValueError(
            f"pca_power_quant int64 envelope exceeded: n={n} >= 2^23 "
            "(|G| <= n*2^40 no longer fits int64; Gram sums would wrap "
            "silently). Use the float path (pca_power) or shard + merge.")
    cexpr = _centered_quant_expr(dim, n, sums)
    gr = _gram_blocks(emb, cexpr, dim, "long").collect()
    G = np.zeros((dim, dim), dtype=np.int64)
    for r in gr:
        G[r["i"], r["j"]] = r["g"]
    maxabs = int(np.max(np.abs(G)))
    if maxabs == 0:
        raise ValueError("degenerate (all-zero centered) input")
    D = 1 + (maxabs - 1) // G_CAP  # ceil(maxabs / G_CAP), >= 1
    Gs = G // D                    # numpy // floors, matching bin_floor
    v = np.full(dim, SCALE_V, dtype=np.int64)
    for _ in range(rounds):
        w = Gs @ v                                  # |w| <= 2^46
        m = int(np.max(np.abs(w)))
        if m == 0:
            raise ValueError("power iteration collapsed to zero")
        v = (w * SCALE_V) // m                      # |w*2^10| <= 2^56
    v_lit = F.lit([int(x) for x in v])
    score = F.aggregate(
        F.zip_with(cexpr, v_lit, lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return emb.select(F.col(id_col), score.alias("pc1_score"))


def pca(emb: DataFrame, k: int = 4, dim: int = 64,
        id_col: str = "vec_id") -> tuple[DataFrame, np.ndarray,
                                         np.ndarray]:
    """Float top-k PCA: exact centered covariance by the same partial-
    block plan (float64), driver eigh, map-only projection.  Returns
    (projected_df[id_col, scores array<double>], components[k, dim],
    eigenvalues[k])."""
    if not 1 <= k <= dim:
        raise ValueError("k out of range")
    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.array(*[F.sum(F.element_at(F.col("embedding"), i + 1)
                        .cast("double")) for i in range(dim)])
        .alias("s")).collect()[0]
    n = int(stats["n"])
    if n < 2:
        raise ValueError("need >= 2 rows")
    mu = np.asarray([float(x) for x in stats["s"]]) / n
    mu_lit = F.lit([float(x) for x in mu])
    cexpr = F.zip_with(F.col("embedding"), mu_lit,
                       lambda x, m: x.cast("double") - m)
    gr = _gram_blocks(emb, cexpr, dim, "double").collect()
    C = np.zeros((dim, dim))
    for r in gr:
        C[r["i"], r["j"]] = r["g"]
    C /= (n - 1)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T            # (k, dim)
    evals = evals[order]
    comp_lit = F.lit([[float(x) for x in row] for row in comps])
    scores = F.transform(
        comp_lit,
        lambda c: F.aggregate(F.zip_with(cexpr, c, lambda a, b: a * b),
                              F.lit(0.0), lambda acc, x: acc + x))
    out = emb.select(F.col(id_col), scores.alias("scores"))
    return out, comps, evals
