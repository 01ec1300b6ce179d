"""Trained quality classifier: hashed-feature (hashing-trick) logistic
regression over document tokens — the CCNet / fastText-style *learned*
filter a training-data pipeline runs after the heuristic quality scores
(engine.text.quality_score gives the rules; this learns from labels).

Spark shape (the kmeans/pagerank driver-scalar precedent):
  * FEATURIZE once — tokens -> 60-bit hash -> bucket f = h mod dims ->
    per-(doc, f) counts -> one dense ``array<long>`` of length dims+1 per
    doc (slot ``dims`` is the constant-1 bias feature).  Two key-changing
    exchanges total, run once and cached; the corpus text never rides an
    exchange again.
  * each GD round is MAP-ONLY over the cached feature table: the weight
    vector rides as a literal array in the expression closure (65 ints —
    same closure strategy as the kmeans centroid literals), margins and
    residuals are computed in codegen, and the gradient is a
    posexplode -> groupBy(slot) partial aggregation whose exchange carries
    at most partitions x (dims+1) pre-combined rows.  The (dims+1)-row
    gradient is collected to the driver and folded into the weights there
    (exactly what MLlib's LogisticRegressionWithSGD treeAggregate does).
  * APPLY is one more map-only pass with the final weights.
  At 100 TB: per round = one scan of a (doc_id, y, fv) projection (a few
  hundred bytes/row) + one tiny fixed-width shuffle.  Nothing text- or
  vector-shaped crosses an exchange after featurization.

Exact cross-engine determinism (the oracle contract — 'quant' mode):
  * features are INTEGER token counts; weights are INTEGER micro-weights
    wq (w = wq / Q, Q = 1024 a power of two).
  * margin_micro = sum_f wq[f] * c[f] is a pure int64 sum — exact and
    order-independent; margin = margin_micro / Q is ONE IEEE division by
    a power of two (exact).
  * the link is the rational "fast sigmoid" p = 0.5 + 0.5*m/(1+|m|) —
    only +,*,/,abs, so Spark, DuckDB and Python produce bit-identical
    doubles (no exp(), whose last-ulp rounding differs across libms).
    GD with this link is gradient descent on the proper convex loss
    L(m,y) = integral of (sigma_fast(m) - y); same fixed points as
    textbook logistic regression up to the link swap.
  * residuals are quantized to integer micro-units r = floor((p-y)*S+0.5),
    S = 2^20, so per-slot gradient sums G_f = sum_i r_i * c_if are exact
    int64 sums (order-independent below 2^53: |r|<=S, counts<=2^12,
    rows<=2^20 at any test scale; the envelope check raises beyond).
  * weight update: wq -= floor(LR_NUM * G_f / (S*n) + 0.5), where
    LR_NUM = lr*Q is an integer (2048 => lr = 2.0).  LR_NUM*G_f stays
    below 2^53 so the product is exact; S*n is an exact double; one
    correctly-rounded IEEE division + floor reproduces identically in
    Python (driver), Spark SQL and DuckDB.
  The DuckDB oracle replays every round as chained CTEs
  (__spark_entry__._classifier_chain_sql) and matches by value-hash.

'float' mode is the production configuration: float64 weights, true
logistic link exp-based sigmoid, un-quantized residuals — numerically
standard, deterministic per engine, verified against a numpy golden
implementation in tests (the unigram-LM logprob-mode precedent).

Labels are caller-provided 0/1 (any SQL-expressible rule or a labeled
column).  The flagship driver query trains on a deterministic marker-token
quality rule (the synthetic corpus shares one vocabulary across its `lang`
values, so lang is provably unlearnable from text there — float logistic
at dims=1024 sits at chance); marker presence is linearly separable in
hashed-presence space, so the same machinery demonstrably LEARNS (driver
output carries per-doc y/pred, accuracy 1.0 at sf0.01).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens_col

WEIGHT_SCALE = 1024          # Q: micro-weights per unit (power of two)
RESID_SCALE = 1 << 20        # S: residual micro-units (power of two)
LR_NUM = 2048                # lr * Q  (=> lr = 2.0)
# exactness envelope for the quantized gradient sums (see module docstring)
MAX_TRAIN_ROWS = 1 << 20
# auto strategy pick (the episodes.knn_assign_auto precedent): when the
# featurized table fits this driver envelope, collect it ONCE and run all
# GD rounds as numpy matmuls on the driver — bit-identical to the
# distributed rounds (proven by the dual-path test) and free of the
# per-round job-launch floor; past the envelope, train distributed.
MAX_DRIVER_TRAIN_BYTES = 64 << 20


def bucket_col(tok: Column, dims: int, hash_fn: str = "md5_60") -> Column:
    """token -> feature slot in [0, dims): portable 60-bit md5 hash mod
    dims (the md5_60 exchange contract shared with winnow/simhash), or the
    JVM-native xxhash64 fast path (pmod handles its negatives)."""
    if hash_fn == "md5_60":
        h = F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(tok)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return F.pmod(h, F.lit(dims)).cast("int")


def featurize(docs: DataFrame, label: Column, dims: int = 256,
              text_col: str = "text", id_col: str = "doc_id",
              hash_fn: str = "md5_60", binary: bool = True) -> DataFrame:
    """-> (doc_id, y, fv) with fv an ``array<long>`` of dims+1 hashed token
    features (``binary=True``, the fastText default: 0/1 presence — far
    better conditioned for GD than raw counts; False: raw counts); slot
    ``dims`` is the constant-1 bias feature.  Run ONCE per training job
    and cached by the caller — every GD round re-reads this narrow
    projection, never the text."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       label.cast("int").alias("y"),
                       F.explode_outer(tokens_col(F.col(text_col)))
                       .alias("tok"))
    cnt = (toks.withColumn("f", F.when(F.col("tok").isNotNull(),
                                       bucket_col(F.col("tok"), dims,
                                                  hash_fn)))
           .groupBy("doc_id", "y", "f").count())
    if binary:
        cnt = cnt.withColumn("count", F.least(F.col("count"), F.lit(1)))
    # dense vector: map lookup over 0..dims-1, bias slot appended.
    # explode_outer keeps zero-token docs as one NULL-token row whose f is
    # NULL — collect_list drops the NULL-wrapped entry so map_from_entries
    # never sees a NULL key, and the doc still gets its all-zero vector.
    m = F.map_from_entries(F.collect_list(
        F.when(F.col("f").isNotNull(), F.struct(F.col("f"), F.col("count")))))
    # The dense projection references the map dims+1 times; built inline
    # in the aggregate, each reference re-ran map_from_entries over the
    # collected entries (O(dims * tokens) per doc — measured ~4x the
    # stage).  Materialize the map as an attribute through the
    # one-element-explode Generate barrier first (the extract_points
    # trick — a bare alias is substituted away), then do the dims+1
    # lookups against the attribute.  Values are unchanged: lookups are
    # keyed, so collect_list order cannot matter.
    mapped = (cnt.groupBy("doc_id", "y").agg(m.alias("_m0"))
              .select("doc_id", "y",
                      F.explode(F.array(F.col("_m0"))).alias("_m")))
    fv = F.concat(
        F.transform(F.sequence(F.lit(0), F.lit(dims - 1)),
                    lambda i: F.coalesce(F.element_at(F.col("_m"), i),
                                         F.lit(0))),
        F.array(F.lit(1).cast("long")))
    return mapped.select("doc_id", "y", fv.alias("fv"))


def _margin_micro(wq: list[int]) -> Column:
    """int64 margin sum_f wq[f]*fv[f] — weights as a literal int array in
    the codegen closure; zip_with+aggregate is an integer fold (exact,
    order-free)."""
    warr = F.array(*[F.lit(int(v)).cast("long") for v in wq])
    return F.aggregate(
        F.zip_with(F.col("fv"), warr, lambda c, w: c * w),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def fast_sigmoid(m: Column) -> Column:
    """Rational sigmoid 0.5 + 0.5*m/(1+|m|): IEEE +,*,/,abs only —
    bit-identical across Spark / DuckDB / Python for identical inputs."""
    return F.lit(0.5) + F.lit(0.5) * m / (F.lit(1.0) + F.abs(m))


def _grad_arrow(feats: DataFrame, wq: list[int]):
    """One GD round's gradient -> (slots, sums) as a whole-batch Arrow
    kernel — the
    bit-identical twin of the expression form in train_quality_classifier
    (kept there as the semantic reference, the clustering._assign_arrow
    precedent): margins are exact int64 matvecs, the fast-sigmoid /
    residual-floor chain is elementwise correctly-rounded IEEE float64
    (numpy == JVM == DuckDB op for op), and per-slot sums are exact int64
    matmuls — so every value is equal to the expression path's, while the
    per-round cost drops from an interpreted 257-literal fold + codegen
    recompile + posexplode shuffle to one map-only pass emitting ONE
    partial-gradient row per Arrow batch (the treeAggregate shape).
    """
    import numpy as np
    import pandas as pd

    w = np.asarray(wq, dtype=np.int64)
    Q, S = float(WEIGHT_SCALE), float(RESID_SCALE)

    def part(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["fv"].tolist(), dtype=np.int64)
            y = pdf["y"].to_numpy(np.int64)
            m = (X @ w).astype(np.float64) / Q
            p = 0.5 + 0.5 * m / (1.0 + np.abs(m))
            r = np.floor((p - y) * S + 0.5).astype(np.int64)
            yield pd.DataFrame({"g": [(X.T @ r).tolist()]})

    parts = feats.select("y", "fv").mapInPandas(part, "g array<long>")
    g = (parts.select(F.posexplode("g").alias("f", "gp"))
         .groupBy("f").agg(F.sum("gp").alias("g")).collect())
    return [r["f"] for r in g], [r["g"] for r in g]


def train_quality_classifier(docs: DataFrame, label: Column,
                             dims: int = 256, rounds: int = 8,
                             mode: str = "quant",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             hash_fn: str = "md5_60",
                             binary: bool = True,
                             lr_num: int = LR_NUM,
                             use_arrow: bool = True):
    """Full-batch GD; returns (weights, feats) — weights a python list of
    dims+1 ints (quant) / floats (float mode, true-sigmoid link), feats
    the cached featurized DataFrame (caller scores with apply_classifier
    and MUST unpersist feats when done).  Quant mode trains on the driver
    below MAX_DRIVER_TRAIN_BYTES; past it the distributed rounds use the
    Arrow gradient kernel, or with use_arrow=False its expression-form
    reference."""
    if mode not in ("quant", "float"):
        raise ValueError(f"unknown mode {mode!r}")
    feats = featurize(docs, label, dims, text_col, id_col, hash_fn,
                      binary).cache()
    n = feats.count()
    if mode == "quant" and n > MAX_TRAIN_ROWS:
        feats.unpersist()
        raise ValueError(
            f"quant-mode exactness envelope is {MAX_TRAIN_ROWS} training "
            f"rows (got {n}); use mode='float' or raise RESID_SCALE "
            "headroom consciously")
    if mode == "quant" and n * (dims + 1) * 8 <= MAX_DRIVER_TRAIN_BYTES:
        # sub-envelope path: one collect of the narrow feature table, all
        # rounds as int64 matmuls + elementwise IEEE float64 on the driver
        # — op-for-op the same computation as the distributed rounds.
        import numpy as np
        pdf = feats.select("y", "fv").toPandas()
        X = np.array(pdf["fv"].tolist(), dtype=np.int64)
        yv = pdf["y"].to_numpy(np.int64)
        Q, S = float(WEIGHT_SCALE), float(RESID_SCALE)
        wq_np = np.zeros(dims + 1, dtype=np.int64)
        for _ in range(rounds):
            m = (X @ wq_np).astype(np.float64) / Q
            p = 0.5 + 0.5 * m / (1.0 + np.abs(m))
            r = np.floor((p - yv) * S + 0.5).astype(np.int64)
            wq_np = wq_np - np.floor(
                lr_num * (X.T @ r) / (S * float(n)) + 0.5).astype(np.int64)
        return [int(v) for v in wq_np], feats
    if mode == "quant":
        wq = [0] * (dims + 1)
        for _ in range(rounds):
            if use_arrow:
                fs, gs = _grad_arrow(feats, wq)
                grad = dict(zip(fs, gs))
            else:
                # expression-form semantic reference (bit-identical to the
                # Arrow kernel; interpreted HOF fold + per-round codegen
                # recompile make it ~2x slower at bench scale)
                m = F.col("_mm").cast("double") / F.lit(float(WEIGHT_SCALE))
                resid = F.floor(
                    (fast_sigmoid(m) - F.col("y").cast("double"))
                    * F.lit(float(RESID_SCALE)) + F.lit(0.5)).cast("long")
                g = (feats.withColumn("_mm", _margin_micro(wq))
                     .withColumn("_r", resid)
                     .select("_r", F.posexplode("fv").alias("f", "c"))
                     .filter(F.col("c") != 0)
                     .groupBy("f").agg(F.sum(F.col("_r") * F.col("c"))
                                       .alias("g"))
                     .collect())
                grad = {r["f"]: r["g"] for r in g}
            den = float(RESID_SCALE) * float(n)
            wq = [w - math.floor(lr_num * grad.get(f, 0) / den + 0.5)
                  for f, w in enumerate(wq)]
        return wq, feats
    # float mode: float64 weights, true logistic link
    lr = lr_num / WEIGHT_SCALE
    w = [0.0] * (dims + 1)
    for _ in range(rounds):
        warr = F.array(*[F.lit(float(v)) for v in w])
        marg = F.aggregate(
            F.zip_with(F.col("fv").cast("array<double>"), warr,
                       lambda c, x: c * x),
            F.lit(0.0), lambda acc, v: acc + v)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-marg))
        g = (feats.withColumn("_r", p - F.col("y").cast("double"))
             .select("_r", F.posexplode("fv").alias("f", "c"))
             .filter(F.col("c") != 0)
             .groupBy("f").agg(F.sum(F.col("_r") * F.col("c")).alias("g"))
             .collect())
        grad = {r["f"]: r["g"] for r in g}
        w = [x - lr * grad.get(f, 0.0) / n for f, x in enumerate(w)]
    return w, feats


def apply_classifier(feats: DataFrame, weights, mode: str = "quant"
                     ) -> DataFrame:
    """Score a featurized table with trained weights (map-only).
    -> (doc_id, y, margin_micro|margin, prob, pred)."""
    if mode == "quant":
        mm = _margin_micro(weights)
        m = F.col("margin_micro").cast("double") / F.lit(float(WEIGHT_SCALE))
        return (feats.withColumn("margin_micro", mm)
                .withColumn("prob", fast_sigmoid(m))
                .withColumn("pred",
                            (F.col("prob") >= 0.5).cast("int"))
                .select("doc_id", "y", "margin_micro", "prob", "pred"))
    warr = F.array(*[F.lit(float(v)) for v in weights])
    marg = F.aggregate(
        F.zip_with(F.col("fv").cast("array<double>"), warr,
                   lambda c, x: c * x),
        F.lit(0.0), lambda acc, v: acc + v)
    return (feats.withColumn("margin", marg)
            .withColumn("prob", F.lit(1.0) / (F.lit(1.0)
                                              + F.exp(-F.col("margin"))))
            .withColumn("pred", (F.col("prob") >= 0.5).cast("int"))
            .select("doc_id", "y", "margin", "prob", "pred"))
