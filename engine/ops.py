"""Generic reusable DataFrame operators (SURVEY.md §2.2-2.6).

Each is a pure DataFrame->DataFrame combinator built from native window /
join / agg expressions — fully SQL-expressible, so every one of them has a
DuckDB oracle twin in __spark_entry__.py.  The production geopoint pipeline
fuses the per-host ones into a single Arrow kernel (engine/trace_prep.py);
these standalone forms are the semantic contract and are cross-checked
against the fused kernel in tests.
"""

from __future__ import annotations

from collections.abc import Sequence
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .envelope import beyond, require, wide, wide_abs
from .functions import epoch_s
from .grid import (bin_floor, box_cell_count, explode_box,
                   explode_neighbours, fence_cells)


def _w(part: Sequence[str], order: Sequence[str | Column]):
    return Window.partitionBy(*part).orderBy(*order)


def seq_dedup(df: DataFrame, part: Sequence[str], order: Sequence[str],
              value_cols: Sequence[str]) -> DataFrame:
    """F3 — drop rows whose `value_cols` all equal the previous row's
    (per-partition, in `order`).  Order-dependent: NOT dropDuplicates.
    Reference: REF trace.py::Trace.remove_sequential_duplicates [M]."""
    w = _w(part, order)
    same = F.lit(True)
    for c in value_cols:
        same = same & F.lag(F.col(c)).over(w).eqNullSafe(F.col(c))
    return (df.withColumn("_dup", F.coalesce(same, F.lit(False)))
              .filter(~F.col("_dup")).drop("_dup"))


def sessionize(df: DataFrame, part: Sequence[str], ts_col: str, gap_s: float,
               out: str = "subset_id",
               order: Sequence[str] | None = None) -> DataFrame:
    """W2 — observation-gap sessionization: new session when the gap to the
    previous row exceeds `gap_s`.  The classic lag + cumsum pattern.
    `order` adds tiebreak columns after ts for a total order.
    Reference: REF trace.py::Trace.make_known_subsets [M]."""
    w = _w(part, list(order) if order else [ts_col])
    gap = epoch_s(F.col(ts_col)) - F.lag(epoch_s(F.col(ts_col))).over(w)
    new = F.when(gap.isNull() | (gap > gap_s), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        out,
        F.sum(new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1))


def time_weights(df: DataFrame, part: Sequence[str], ts_col: str,
                 out: str = "weight_s",
                 order: Sequence[str] | None = None) -> DataFrame:
    """A1 — per-row time weight: half the gap to the previous row plus half
    the gap to the next row, within the partition (usually host+subset).
    Sum of weights == observed span of the partition.
    Reference: REF point.py::Point.weight [M]."""
    w = _w(part, list(order) if order else [ts_col])
    ts = epoch_s(F.col(ts_col))
    prev_gap = ts - F.lag(ts).over(w)
    next_gap = F.lead(ts).over(w) - ts
    return df.withColumn(
        out,
        F.coalesce(prev_gap, F.lit(0.0)) / 2.0 + F.coalesce(next_gap, F.lit(0.0)) / 2.0)


def change_segments(df: DataFrame, part: Sequence[str], order: Sequence[str],
                    label_col: str, out: str = "segment_id") -> DataFrame:
    """W3 — run-length segmentation: new segment whenever `label_col` changes
    (null-safe), per partition in `order`.  Same cumsum pattern as W2.
    The first row is flagged explicitly (not via the lag-null trick), so a
    partition whose first label is NULL still starts at segment 0 —
    eqNullSafe(NULL, NULL) is true, which would otherwise yield -1."""
    w = _w(part, order)
    first = F.row_number().over(w) == 1
    changed = ~F.lag(F.col(label_col)).over(w).eqNullSafe(F.col(label_col))
    new = F.when(first | changed, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        out,
        F.sum(new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1))


def segment_spans(df: DataFrame, part: Sequence[str], seg_col: str,
                  ts_col: str, label_col: str) -> DataFrame:
    """W4 — collapse segments to (start, end, label, n) spans; a segment's
    end is the next segment's start (last segment ends at its last row)."""
    agg = (df.groupBy(*part, seg_col)
             .agg(F.min(ts_col).alias("start_ts"),
                  F.max(ts_col).alias("last_ts"),
                  F.first(label_col).alias(label_col),
                  F.count(F.lit(1)).alias("n_rows")))
    w = _w(part, ["start_ts"])
    return agg.withColumn("end_ts",
                          F.coalesce(F.lead("start_ts").over(w), F.col("last_ts")))


def interval_overlap_join(a: DataFrame, b: DataFrame, keys: Sequence[str],
                          a_start: str = "start_ts", a_end: str = "end_ts",
                          b_start: str = "start_ts", b_end: str = "end_ts",
                          overlap_col: str = "overlap_s") -> DataFrame:
    """J3 — per-key interval intersection: a.start < b.end AND b.start < a.end,
    with overlap seconds = least(ends) - greatest(starts).
    Reference: REF compare.py [M] (ground-truth episode alignment)."""
    bb = b
    for c in (b_start, b_end):
        bb = bb.withColumnRenamed(c, f"b_{c}")
    joined = a.join(bb, list(keys), "inner").filter(
        (epoch_s(F.col(a_start)) < epoch_s(F.col(f"b_{b_end}")))
        & (epoch_s(F.col(f"b_{b_start}")) < epoch_s(F.col(a_end))))
    return joined.withColumn(
        overlap_col,
        F.least(epoch_s(F.col(a_end)), epoch_s(F.col(f"b_{b_end}")))
        - F.greatest(epoch_s(F.col(a_start)), epoch_s(F.col(f"b_{b_start}"))))


def topk_per_group(df: DataFrame, part: Sequence[str], order_col: str,
                   k: int, desc: bool = True,
                   tiebreak: Sequence[str] = ()) -> DataFrame:
    """O2 — top-k rows per group (rank by `order_col`, then `tiebreak`
    ascending for a deterministic total order)."""
    order = [F.col(order_col).desc() if desc else F.col(order_col).asc()]
    order += [F.col(c).asc() for c in tiebreak]
    w = _w(part, order)
    return (df.withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= k).drop("_rk"))


def asof_join(left: DataFrame, right: DataFrame, keys: Sequence[str],
              left_ts: str, right_ts: str,
              value_cols: Sequence[str]) -> DataFrame:
    """J6 — as-of join: for each left row, the latest right row with
    right_ts <= left_ts (per key).  Union-merge + last(ignoreNulls) running
    window — no per-row Python, single shuffle on (keys).
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn("_ats", F.col(left_ts))
    rt = (right.select(*keys, F.col(right_ts).alias("_ats"),
                       *[F.col(c) for c in value_cols])
               .withColumn("_side", F.lit(0)))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    for c in value_cols:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))
    u = lt.select(*lt.columns).unionByName(rt.select(*lt.columns))
    w = (Window.partitionBy(*keys).orderBy("_ats", "_side")
               .rowsBetween(Window.unboundedPreceding, 0))
    for c in value_cols:
        u = u.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return u.filter(F.col("_side") == 1).drop("_side", "_ats")


def sample_stratified(df: DataFrame, fractions: dict[str, float] | float,
                      strata_col: str | None = None,
                      key: Column | str = "doc_id",
                      hash_expr: Column | None = None,
                      mod: int = 1 << 31) -> DataFrame:
    """Deterministic stratified sampling for pipeline splits: keep a row
    iff hash(key) mod 2^31 < fraction(stratum) * 2^31.

    Unlike DataFrame.sample/sampleBy (partition-seeded RNG whose output
    changes under repartition, retry, or cluster resize), the keep
    decision is a pure function of the row key — stable across resumes of
    a 100-TB job and safe for train/validation splits (a key lands on the
    same side forever).  `fractions` is either one float or a
    {stratum: fraction} dict over `strata_col` values (unlisted strata
    are dropped, like sampleBy).  `hash_expr` overrides the default
    xxhash64 mix — e.g. an arithmetic LCG so an external system can
    reproduce the exact sample (the driver oracle does this).
    """
    k = F.col(key) if isinstance(key, str) else key
    h = (F.pmod(F.xxhash64(k), F.lit(mod)) if hash_expr is None
         else F.pmod(hash_expr, F.lit(mod)))
    if isinstance(fractions, dict):
        if strata_col is None:
            raise ValueError("strata_col required with per-stratum fractions")
        pairs = [x for kv in fractions.items()
                 for x in (F.lit(kv[0]), F.lit(float(kv[1])))]
        frac = F.element_at(F.create_map(*pairs), F.col(strata_col))
    else:
        frac = F.lit(float(fractions))
    return df.filter(h < (frac * mod))


# Contracted-label-graph driver envelope for min_label_components: once
# the distinct cross-label edge set fits this many rows, the remaining
# merges run as one driver union-find + one broadcast map join.
CC_DRIVER_MAX_EDGES = 1 << 20


def min_label_roots(n: int, a, b):
    """Driver union-find over dense node indices 0..n-1 and undirected
    edge index arrays (a, b): returns, per node, the MIN index of its
    connected component (isolated nodes map to themselves).

    Min-label propagation with pointer jumping: each round hooks both
    endpoints and both endpoints' labels onto the smaller label
    (np.minimum.at both ways), then jumps pointers (lab = lab[lab]) to
    their fixpoint.  Labels only fall and always name a component
    member no larger than the node, so at the fixpoint every edge joins
    equal labels and each label is its component's minimum index."""
    import numpy as np
    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        nxt = lab.copy()
        for dst, src in ((a, lb), (b, la), (la, lb), (lb, la)):
            np.minimum.at(nxt, dst, src)
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def min_label_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "id", a_col: str = "a",
                         b_col: str = "b", max_iters: int = 16) -> DataFrame:
    """Generic undirected connected components: min-label propagation WITH
    pointer jumping, so convergence is O(log component-diameter) rounds
    (plain 1-hop propagation is O(diameter)).  It takes an arbitrary node
    table and (a, b) edge table — a hot-cell raster's ring-1 adjacency
    (tiles.extract_components), or near-dup pairs over 10^12 docs, where
    edges are LSH-bucketed candidates (tiny vs the corpus) and each round is a
    pair of equi-joins + a min-aggregation, all shuffle-keyed on ids.

    Returns (id_col, component_id) for EVERY node; isolated nodes are their
    own component.  Raises RuntimeError on non-convergence rather than
    silently splitting components.

    Lineage discipline: each round builds `nxt` from TWO references to
    `cur` (the neighbor-min join and the pointer-jump join), so the
    logical plan DOUBLES per round — with plain .cache() the analyzer
    still walks the full 2^rounds tree (measured: a 16-round run
    produced a 2 GiB plan string and pinned the driver in
    ExplainUtils.generateOperatorIDs for tens of minutes).  Eager
    localCheckpoint truncates the plan to a LogicalRDD each round —
    the same discipline pagerank/bfs/k_core use; checkpoint blocks are
    (id, label) pairs only and are reclaimed by the ContextCleaner once
    the previous round's reference drops.
    """
    e = (edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
         .unionByName(edges.select(F.col(b_col).alias("src"),
                                   F.col(a_col).alias("dst"))).cache())
    cur = (nodes.select(F.col(id_col).alias("_nid"))
           .withColumn("label", F.col("_nid"))
           .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iters):
        # CONTRACTED label graph under the current labeling: distinct
        # cross-label edges only — shrinks every round.  The previous
        # node-level neighbor-min + single pointer jump propagated the
        # min INTO a region only from its boundary (one mesh hop per
        # round plus tree compression), which failed to converge within
        # max_iters on mesh-shaped components (inherited: dbscan_geo's
        # 500 km blob at sf0.1, a sphere mesh of graph diameter ~40).
        # On the contracted graph every non-locally-min region adopts a
        # strictly smaller neighboring region's label, so the region
        # count at least halves per round — O(log regions) rounds
        # guaranteed, with whole regions relabeled via one map join
        # (no interior creep).  Fixpoint unchanged: labels are always
        # component-member ids, monotone non-increasing, and the min
        # member keeps its own label, so the uniform fixpoint label is
        # the component min — identical output, schedule-independent.
        le = (e.join(cur.select(F.col("_nid").alias("src"),
                                F.col("label").alias("_ls")), "src")
              .join(cur.select(F.col("_nid").alias("dst"),
                               F.col("label").alias("_ld")), "dst")
              .filter(F.col("_ls") != F.col("_ld"))
              .select("_ls", "_ld").distinct()
              .localCheckpoint(eager=True))
        n_le = le.count()
        if n_le == 0:
            converged = True
            break
        if n_le <= CC_DRIVER_MAX_EDGES:
            # the contracted label graph fits the driver envelope (the
            # repo's standard auto-strategy): finish with one numpy
            # union-find pass (min_label_roots — min-root semantics,
            # identical fixpoint) and ONE map join, instead of
            # O(log regions) further rounds of several jobs each
            import numpy as np
            import pyarrow as pa
            from pyspark.sql import types as T
            tbl = le.toArrow()
            ls = tbl.column("_ls").to_numpy()
            ld = tbl.column("_ld").to_numpy()
            uniq = np.unique(np.concatenate([ls, ld]))
            root = min_label_roots(len(uniq), np.searchsorted(uniq, ls),
                                   np.searchsorted(uniq, ld))
            moved = root != np.arange(len(uniq))
            lt = cur.schema["label"].dataType
            mdf = nodes.sparkSession.createDataFrame(
                pa.table({"label": uniq[moved], "_lt": uniq[root[moved]]}),
                T.StructType([T.StructField("label", lt),
                              T.StructField("_lt", lt)]))
            cur = (cur.join(F.broadcast(mdf), "label", "left")
                   .select("_nid",
                           F.coalesce(F.col("_lt"), F.col("label"))
                           .alias("label"))
                   .localCheckpoint(eager=True))
            converged = True
            break
        lmin = le.groupBy("_ls").agg(F.min("_ld").alias("_lm"))
        m = (lmin.select(
            F.col("_ls"),
            F.least(F.col("_ls"), F.col("_lm")).alias("_lt"))
            .localCheckpoint(eager=True))
        # path-compress the (label-sized, tiny) map to its fixpoint so
        # chains of merges collapse within the round
        for _j in range(max_iters):
            m2 = (m.join(m.select(F.col("_ls").alias("_lt"),
                                  F.col("_lt").alias("_lt2")),
                         "_lt", "left")
                  .select("_ls",
                          F.least(F.col("_lt"),
                                  F.coalesce(F.col("_lt2"), F.col("_lt")))
                          .alias("_lt"))
                  .localCheckpoint(eager=True))
            moved = (m2.join(m.withColumnRenamed("_lt", "_old"), "_ls")
                     .filter(F.col("_lt") != F.col("_old")).count())
            m = m2
            if moved == 0:
                break
        cur = (cur.join(m.withColumnRenamed("_ls", "label"), "label",
                        "left")
               .select("_nid",
                       F.coalesce(F.col("_lt"), F.col("label"))
                       .alias("label"))
               .localCheckpoint(eager=True))
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"min_label_components: no fixpoint after {max_iters} "
            f"label-contraction rounds (> 2^{max_iters} regions)")
    return cur.select(F.col("_nid").alias(id_col),
                      F.col("label").alias("component_id"))


def salted_join(big: DataFrame, small: DataFrame, key: str, salt: int,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join (SURVEY.md §4.2, BASELINE.json:6 'salted
    repartitioning for hot-cell skew'): the big side gets a random-ish salt
    derived from a stable hash of its other columns; the small side is
    exploded x`salt`.  Use when one join key dominates (hot cell / mega-host)
    and the small side is too big to broadcast outright.
    """
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt)))
    small_s = (small.withColumn("_salt",
                                F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
                    .withColumn("_salt", F.col("_salt").cast("long")))
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")


def resample_mixture(df: DataFrame, targets: dict[str, float],
                     strata_col: str, key: Column | str = "doc_id",
                     hash_expr: Column | None = None,
                     mod: int = 1 << 31) -> DataFrame:
    """Resample to a target mixture: downsample each stratum (source,
    language, domain...) so the OUTPUT's composition matches ``targets``
    proportions — the data-mixing step of a training pipeline (fix the
    web/wiki/books/code ratio before tokenization).  No stratum is
    upsampled: the achievable output size is N = min_s(n_s / w_s) and
    each stratum keeps f_s = w_s * N / n_s of its rows via the same
    deterministic hash rule as `sample_stratified` (stable under
    repartition/retry/resume; a key stays in or out forever).  Strata
    absent from ``targets`` are dropped.

    Scale shape: one map-side-combinable count per stratum (the strata
    table is tiny — sources/languages, not documents), fractions reduce
    to driver scalars, then ONE map-only filter over the corpus — no
    shuffle of the data being sampled.

    Weights are normalized driver-side; both the normalized weights and
    the final fractions are plain IEEE double arithmetic, so an external
    engine recomputing them from the same counts gets bit-identical keep
    decisions (the driver oracle does exactly this).
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    if any(w <= 0 for w in targets.values()):
        raise ValueError("target weights must be > 0")
    tot_w = float(sum(targets.values()))
    weights = {s: float(w) / tot_w for s, w in targets.items()}
    counts = {r[strata_col]: r["n"] for r in
              df.filter(F.col(strata_col).isin(list(targets)))
                .groupBy(strata_col)
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    missing = [s for s in targets if not counts.get(s)]
    if missing:
        raise ValueError(f"strata with no rows cannot hit the mixture: "
                         f"{sorted(missing)}")
    n_out = min(counts[s] / weights[s] for s in weights)
    fractions = {s: weights[s] * n_out / counts[s] for s in weights}
    return sample_stratified(df, fractions, strata_col, key=key,
                             hash_expr=hash_expr, mod=mod)


def gapfill_locf(df: DataFrame, key: str, ts_col: str, val_col: str,
                 order_cols: Sequence[str], bucket_s: int = 300,
                 max_buckets_per_key: int = 1_000_000,
                 interpolate: bool = False) -> DataFrame:
    """Time-bucket downsample + gap fill with last-observation-carried-
    forward (the hypertable `time_bucket + locf` resample shape).

    Per (key, bucket) the raw stream reduces to an event count and the
    LAST raw value under the deterministic (ts, *order_cols) order; the
    per-key bucket range is then densified (missing buckets materialize
    as rows) and empty buckets inherit the previous bucket's value.

    Output: (key, bucket, bucket_ts, n_events, val_locf, is_gap) — the
    carried value crosses engines byte-identically because it is a raw
    column value (max_by pick), never arithmetic.

    `interpolate=True` adds `val_interp` (the hypertable `interpolate`
    twin): gap buckets take the LINEAR interpolation between the nearest
    observed buckets on each side; non-gap buckets keep their own value
    (branching matters: the formula's 0/0 is NaN there); leading/trailing
    gaps with only one neighbor are NULL (outside the known range).  The
    arithmetic is one subtract/divide/multiply/add chain over a raw
    value pair and exact integer bucket distances, so an engine replaying
    the same IEEE expression tree matches bit-for-bit.  Costs two more
    window passes over the SAME (key, bucket-order) sort — Catalyst
    fuses them into the one Window exchange.

    Scale shape: one partial-agg exchange on (key, bucket) — granularity
    BUCKETS not events — then per-key min/max (tiny), a narrow
    sequence-explode for the dense spine (no shuffle: generated from the
    per-key aggregate), a co-partitioned left join back and one window
    pass per key.  All integer bucket math (epoch micros DIV), so frame
    and join keys are exact in any engine.  The spine explode is the one
    unbounded surface: a key spanning years at 1 s buckets would emit
    millions of rows, so the per-key span is enforced against
    `max_buckets_per_key` inside the plan (raise_error, not a silent
    truncation)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    step = int(bucket_s) * 1_000_000
    b = df.withColumn("_us", us).withColumn(
        "bucket", F.expr(f"CAST(_us DIV {step} AS BIGINT)"))
    per_bucket = (b.groupBy(key, "bucket")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.max_by(F.col(val_col),
                                F.struct(F.col("_us"), *[F.col(c) for c in
                                                         order_cols]))
                       .alias("_last_val")))
    span = (per_bucket.groupBy(key)
            .agg(F.min("bucket").alias("_b0"), F.max("bucket").alias("_b1")))
    guard = F.when(
        F.col("_b1") - F.col("_b0") < F.lit(int(max_buckets_per_key)),
        F.col("_b0")).otherwise(F.raise_error(F.concat(
            F.lit(f"gapfill_locf: key spans > {max_buckets_per_key} "
                  f"buckets at bucket_s={bucket_s} (key="),
            F.col(key).cast("string"), F.lit(")"))))
    spine = (span.withColumn("_b0", guard)
             .select(key, F.explode(F.sequence(F.col("_b0"), F.col("_b1")))
                     .alias("bucket")))
    filled = spine.join(per_bucket, [key, "bucket"], "left")
    w = (Window.partitionBy(key).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cols = [
        F.col(key), F.col("bucket"),
        F.timestamp_micros(F.col("bucket") * step).alias("bucket_ts"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("_last_val", ignorenulls=True).over(w).alias("val_locf"),
        F.col("n_events").isNull().cast("bigint").alias("is_gap")]
    if interpolate:
        wf = (Window.partitionBy(key).orderBy("bucket")
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        obs_b = F.when(F.col("_last_val").isNotNull(), F.col("bucket"))
        pv = F.last("_last_val", ignorenulls=True).over(w)
        pb = F.last(obs_b, ignorenulls=True).over(w)
        nv = F.first("_last_val", ignorenulls=True).over(wf)
        nb = F.first(obs_b, ignorenulls=True).over(wf)
        lerp = pv + (nv - pv) * ((F.col("bucket") - pb).cast("double")
                                 / (nb - pb).cast("double"))
        cols.append(
            F.when(F.col("_last_val").isNotNull(), F.col("_last_val"))
             .when(pv.isNotNull() & nv.isNotNull(), lerp)
             .alias("val_interp"))
    return filled.select(*cols)


def interval_overlap_join_binned(a: DataFrame, b: DataFrame,
                                 keys: Sequence[str],
                                 a_start: str = "start_ts",
                                 a_end: str = "end_ts",
                                 b_start: str = "start_ts",
                                 b_end: str = "end_ts",
                                 overlap_col: str = "overlap_s",
                                 bin_s: int = 3600) -> DataFrame:
    """J3's 100-TB posture for LOW-SELECTIVITY keys: the plain
    interval_overlap_join equi-joins on keys and filters the range as a
    residual — per-key work is |a_k| x |b_k|, quadratic when one key
    holds millions of intervals.  The binned range join (the Databricks
    range-join-optimization shape) explodes each interval into the
    time bins it touches and equi-joins on (keys, bin), so per-key work
    collapses to sum over bins of |a_bin| x |b_bin| — co-partitioned,
    skew spread across bins, at the cost of duplicating each interval
    into (span / bin_s + 1) rows.  Pick bin_s near the typical interval
    length: long intervals fan out more rows, short bins make more.

    A pair overlapping across several shared bins would emit
    duplicates; instead of a distinct (an extra full exchange) each
    pair is kept ONLY in its canonical bin — the bin of
    greatest(starts), the first bin of the nonempty intersection,
    provably covered by both sides' explode ranges — a map-side filter.

    Output is IDENTICAL to interval_overlap_join (same columns, same
    overlap arithmetic on the original timestamps): parity-tested, and
    the driver query shares the plain join's exact oracle."""
    if bin_s <= 0:
        raise ValueError("bin_s must be positive")
    binus = int(bin_s) * 1_000_000

    def us(col):
        return F.unix_micros(F.col(col).cast("timestamp"))

    # explode over the CLAMPED bin range (least..greatest): for inverted
    # intervals (end < start) a bare sequence(bin(start), bin(end)) would
    # generate a DESCENDING range and the canonical-bin filter could drop
    # pairs the plain join's strict-overlap filter still emits (b spanning
    # an inverted a).  Clamping keeps every bin either endpoint touches,
    # so the canonical bin stays covered and output == plain join on ALL
    # inputs, degenerate ones included (parity-tested).
    def bin_range(s, e):
        return F.sequence(bin_floor(F.least(s, e), binus),
                          bin_floor(F.greatest(s, e), binus))

    aa = (a.withColumn("_a_s", us(a_start)).withColumn("_a_e", us(a_end))
          .withColumn("_bin", F.explode(
              bin_range(F.col("_a_s"), F.col("_a_e")))))
    bb = b
    for c in (b_start, b_end):
        bb = bb.withColumnRenamed(c, f"b_{c}")
    bb = (bb.withColumn("_b_s", us(f"b_{b_start}"))
          .withColumn("_b_e", us(f"b_{b_end}"))
          .withColumn("_bin", F.explode(
              bin_range(F.col("_b_s"), F.col("_b_e")))))
    joined = (aa.join(bb, [*keys, "_bin"], "inner")
              .filter((F.col("_a_s") < F.col("_b_e"))
                      & (F.col("_b_s") < F.col("_a_e")))
              .filter(F.col("_bin")
                      == bin_floor(F.greatest("_a_s", "_b_s"), binus)))
    return (joined.withColumn(
        overlap_col,
        F.least(epoch_s(F.col(a_end)), epoch_s(F.col(f"b_{b_end}")))
        - F.greatest(epoch_s(F.col(a_start)),
                     epoch_s(F.col(f"b_{b_start}"))))
        .drop("_a_s", "_a_e", "_b_s", "_b_e", "_bin"))


def interval_max_concurrency(df: DataFrame, keys: Sequence[str],
                             start: str = "start_ts",
                             end: str = "end_ts") -> DataFrame:
    """Sweep-line interval stabbing: the maximum number of simultaneously
    open intervals per key group (peak concurrent sessions / stabbing
    number).  The classic event-decomposition — each interval becomes a
    +1 row at its start and a -1 row at its end, a running sum over the
    (ts, delta) order is the live count, and the per-key max of that
    running sum is the answer.

    Exactness contract: ordering by (ts, delta ASC) puts closings before
    openings at the same instant, so touching intervals [a,b] [b,c] never
    count as concurrent — and because every tie block then holds a single
    delta sign, the set of prefix sums inside a block is independent of
    row order within it, making the max well-defined and engine-portable
    (pure BIGINT arithmetic, no floats anywhere).

    100-TB posture: 2 rows per interval, one hash exchange on the keys,
    one per-key sort feeding a single Window + max agg — the same shape
    as any per-host ordered traversal, so it scales exactly like W1/W2.
    """
    s = F.unix_micros(F.col(start).cast("timestamp"))
    e = F.unix_micros(F.col(end).cast("timestamp"))
    pts = (df.select(*keys, s.alias("_ts"), F.lit(1).cast("long")
                     .alias("_delta"))
           .unionByName(df.select(*keys, e.alias("_ts"),
                                  F.lit(-1).cast("long").alias("_delta"))))
    w = (Window.partitionBy(*keys).orderBy("_ts", "_delta")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    live = pts.withColumn("_live", F.sum("_delta").over(w))
    return (live.groupBy(*keys)
            .agg(F.max("_live").cast("long").alias("max_concurrent")))


def skyline_2d(df: DataFrame, keys: Sequence[str], x: str, y: str) -> DataFrame:
    """Pareto frontier (2-D skyline, maximize both axes) per key group —
    the multi-objective "best tradeoff" query (BKS01): a point survives
    iff no other point in its group is >= on both axes and > on at least
    one.  Duplicate coordinates collapse to one frontier row.

    Shape: the 2-D skyline is a staircase, so no pairwise dominance test
    is needed — reduce to the per-x maximum of y (one partial-aggregated
    groupBy), then a single ordered window pass keeps each x whose y
    strictly exceeds the running max over all larger x.  Total cost: one
    map-side-combinable agg + one per-key sort; per-key state is one
    running max, never the point set.  Inputs must be exact (integer /
    cents-quantized) for the cross-engine bit contract; floats would
    still be correct but tie behavior becomes representation-sensitive.
    """
    best = df.groupBy(*keys, F.col(x).alias("_x")).agg(
        F.max(F.col(y).cast("long")).alias("_y"))
    w = (Window.partitionBy(*keys).orderBy(F.col("_x").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (best.withColumn("_prevmax", F.max("_y").over(w))
            .filter(F.col("_prevmax").isNull()
                    | (F.col("_y") > F.col("_prevmax")))
            .select(*keys, F.col("_x").cast("long").alias(x),
                    F.col("_y").alias(y)))


def funnel_prefix(df: DataFrame, user_col: str, ts_col: str, type_col: str,
                  steps: Sequence[str],
                  tiebreak: str) -> DataFrame:
    """Ordered funnel analysis: per user, the longest PREFIX of `steps`
    that occurs as a subsequence of their event stream in (ts, tiebreak)
    order — "how deep into signup -> view -> ... -> purchase did each
    user get".  Returns one row per user having at least one
    funnel-relevant event: (user_col, n_steps long, first_us long,
    last_us long) where first_us/last_us are the event times (unix
    micros) of the first and deepest matched steps (null when n_steps
    is 0).

    Semantics: greedy earliest matching — the canonical subsequence
    algorithm, which provably reaches the maximum prefix depth (matching
    any later occurrence of a step never allows a deeper prefix than
    matching the earliest one).  Equivalent declarative form: r1 = first
    occurrence of steps[0], r_{k+1} = first occurrence of steps[k+1]
    AFTER r_k — which is exactly what the chained-min SQL oracle states.
    No time-window constraint (a ClickHouse-windowFunnel variant would
    need per-start re-scans); unwindowed prefix depth is the exact,
    engine-portable contract here.

    100-TB shape: events are filtered to the |steps| relevant types and
    projected to three small ints BEFORE the exchange, so only
    funnel-relevant (ts_us, tiebreak, step_idx) triples ride the one
    hash shuffle; the per-user fold is a single native F.aggregate over
    the sorted per-user array (JVM codegen, no Python) with O(1) state.
    Per-user relevant-event volume must fit an array — the same
    per-host envelope every W-family traversal in this engine carries.

    Steps must be distinct (a repeated type would make the per-event
    step index ambiguous) and non-empty — both raise.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("funnel_prefix: steps must be non-empty")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel_prefix: step types must be distinct")
    idx = F.lit(None).cast("int")
    for i in reversed(range(len(steps))):
        idx = F.when(F.col(type_col) == steps[i], F.lit(i)).otherwise(idx)
    ev = (df.filter(F.col(type_col).isin(steps))
          .select(F.col(user_col).alias("_u"),
                  F.struct(
                      F.unix_micros(F.col(ts_col).cast("timestamp"))
                      .alias("ts_us"),
                      F.col(tiebreak).cast("long").alias("tb"),
                      idx.alias("idx")).alias("_e")))
    per_user = ev.groupBy("_u").agg(
        F.sort_array(F.collect_list("_e")).alias("_evs"))
    init = F.struct(F.lit(0).cast("int").alias("k"),
                    F.lit(None).cast("long").alias("first_us"),
                    F.lit(None).cast("long").alias("last_us"))
    def _fold(acc, x):
        hit = x["idx"] == acc["k"]
        return F.struct(
            (acc["k"] + F.when(hit, F.lit(1)).otherwise(F.lit(0)))
            .cast("int").alias("k"),
            F.when(hit & (acc["k"] == F.lit(0)), x["ts_us"])
            .otherwise(acc["first_us"]).alias("first_us"),
            F.when(hit, x["ts_us"]).otherwise(acc["last_us"])
            .alias("last_us"))
    out = per_user.select("_u", F.aggregate("_evs", init, _fold).alias("_r"))
    return out.select(F.col("_u").alias(user_col),
                      F.col("_r.k").cast("long").alias("n_steps"),
                      F.col("_r.first_us").alias("first_us"),
                      F.col("_r.last_us").alias("last_us"))


def cohort_retention(df: DataFrame, user_col: str, ts_col: str,
                     bucket_s: int = 604800) -> DataFrame:
    """Cohort retention matrix: bucket time into fixed windows (weekly by
    default), assign each user to the cohort of their FIRST active
    bucket, and count how many of each cohort are active again k buckets
    later — the classic product-analytics retention triangle.  Returns
    (cohort_bucket long, bucket_offset long, n_users long); offset 0 rows
    carry each cohort's size.

    Exactness: bucket = floor(ts_us / bucket_us) via the (a - pmod(a, n))
    / n identity, which is true floor division on BOTH engines for any
    sign (Spark pmod is non-negative; DuckDB // floors), and everything
    downstream is BIGINT counting — bit-portable.

    100-TB shape: one distinct over (user, bucket) projections (map-side
    combinable, events collapse to at most users x buckets rows before
    anything else), a min-agg for cohorts (combinable), one user-keyed
    join of two user-sized tables, and a tiny final count.  The raw
    event payload never rides an exchange.  Since (user, bucket) rows
    are unique after the distinct, the final count(*) IS the distinct
    user count — no count-distinct state anywhere.
    """
    if bucket_s <= 0:
        raise ValueError("cohort_retention: bucket_s must be positive")
    b = int(bucket_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = bin_floor(us, b)
    act = (df.select(F.col(user_col).alias("_u"), bucket.alias("_bk"))
           .distinct())
    coh = act.groupBy("_u").agg(F.min("_bk").alias("_cw"))
    return (act.join(coh, "_u")
            .groupBy(F.col("_cw").alias("cohort_bucket"),
                     (F.col("_bk") - F.col("_cw")).alias("bucket_offset"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


def transition_counts(df: DataFrame, seq_keys: Sequence[str],
                      order: Sequence[str], state_col: str) -> DataFrame:
    """First-order Markov transition counts: for each ordered stream
    (one per seq_keys group), count state -> next-state adjacencies and
    emit each transition with its row total — the empirical transition
    matrix in exact integer evidence ((from_state, to_state, n_trans,
    n_from); n_trans / n_from is the MLE probability, left to the
    consumer so no float enters the contract).

    100-TB shape: one per-stream window (the same exchange every
    W-family traversal pays), then a map-side-combinable pair count on
    (from, to) — states-squared rows at most; the row total is a second
    tiny agg joined back (broadcast — the matrix is states² rows).
    """
    w = _w(seq_keys, list(order))
    nxt = F.lead(F.col(state_col)).over(w)
    pairs = (df.select(F.col(state_col).alias("from_state"),
                       nxt.alias("to_state"))
             .filter(F.col("to_state").isNotNull()))
    m = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n_trans"))
    tot = m.groupBy("from_state").agg(
        F.sum("n_trans").cast("long").alias("n_from"))
    return m.join(F.broadcast(tot), "from_state").select(
        "from_state", "to_state", "n_trans", "n_from")


def histogram_equiwidth(df: DataFrame, keys: Sequence[str], val_col: str,
                        width: int, origin: int = 0) -> DataFrame:
    """Equi-width histogram per key group over an integer column: bin =
    floor((v - origin) / width) via the (a - pmod)/n identity (true
    floor both engines, any sign), with per-bin count and the exact
    value range actually seen — the stats backbone of every optimizer
    and data-profile pane.  Empty bins are absent (dense spines are
    gapfill_locf's job).

    100-TB shape: one map-side-combinable agg; the exchange carries
    (keys, bin) partials only.
    """
    if width <= 0:
        raise ValueError("histogram_equiwidth: width must be positive")
    v = F.col(val_col).cast("long") - F.lit(int(origin))
    bin_ = bin_floor(v, int(width))
    return (df.groupBy(*keys, bin_.alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min(F.col(val_col).cast("long")).alias("v_min"),
                 F.max(F.col(val_col).cast("long")).alias("v_max")))


def zscore_outliers(df: DataFrame, keys: Sequence[str], val_col: str,
                    id_cols: Sequence[str], k: int = 4,
                    ) -> DataFrame:
    """Per-group k-sigma outlier flags on integer (cents-quantized)
    values WITHOUT any float: |x - mean| > k*sigma is squared into the
    pure-integer predicate (n*x - S)^2 > k^2 * (n*SS - S^2) over the
    per-group count/sum/sum-of-squares — so the flag is bit-portable
    across engines (population sigma; groups of one row flag nothing
    since both sides are 0).

    Overflow envelope (ENFORCED with a raise, since int64 wraps
    silently): requires k * n * max|x| < 2^31 for every group, which
    bounds both squared sides below 2^62.  The check is one tiny
    driver-scalar agg over the group-stats table.  For corpora past the
    envelope, shrink groups or pre-scale the cents unit.

    100-TB shape: one combinable stats agg (4 longs per group), stats
    joined back on the group key (broadcast when the group count is
    small — AQE decides), map-only predicate.  The data rows never
    carry more than the one extra comparison.
    """
    if k < 1:
        raise ValueError("zscore_outliers: k must be >= 1")
    v = F.col(val_col).cast("long")
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(v).cast("long").alias("_s"),
        F.sum(v * v).cast("long").alias("_ss"),
        F.max(wide_abs(v)).alias("_amax"))
    require(stats, (
        F.max(wide("_n") * F.col("_amax")),
        lambda env: k * env >= (1 << 31),
        lambda env: f"zscore_outliers: k*n*max|x| = {k * env} breaches "
                    f"the int64 envelope (< 2^31); shrink groups or "
                    f"rescale values"))
    j = df.join(stats, list(keys))
    lhs = F.col("_n") * v - F.col("_s")
    rhs_var = F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    flag = (lhs * lhs) > (F.lit(k * k) * rhs_var)
    return j.select(*keys, *id_cols, v.alias("v"),
                    flag.alias("is_outlier"))


def table_fingerprint(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-independent multiset fingerprint for cross-replica /
    post-migration table validation: ONE row (n_rows, fp_xor, fp_sum)
    such that two tables agree on all three iff (with hash confidence)
    they hold the same multiset of rows over `cols` — partitioning,
    row order, and storage layout are invisible to it.

    Row hash: first 60 bits of md5 over the canonical row string
    (columns cast to string, NULL as a \\x01 sentinel, \\x1f field
    separator) — the repo's md5_60 portable-hash contract, identical on
    any engine.  fp_xor = bit_xor(h) is fully order/duplicate-structure
    independent but cancels EVEN multiplicities of identical rows, so
    fp_sum = sum(h mod 2^20) rides along to catch exactly that class
    (documented envelope: exact for n_rows < 2^43, far past any real
    table).  Caveat: a literal \\x01 string value collides with NULL —
    the standard canonicalization tradeoff, documented not hidden.

    100-TB shape: map-only hash + one all-combinable scalar agg; three
    longs reach the driver.
    """
    if not cols:
        raise ValueError("table_fingerprint: cols must be non-empty")
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x01"))
             for c in cols]
    h = F.conv(F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 15),
               16, 10).cast("long")
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor("_h").alias("fp_xor"),
        F.sum(F.pmod(F.col("_h"), F.lit(1 << 20))).cast("long")
        .alias("fp_sum"))


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Data-profiling pane: one row per column with row count, null
    count, distinct (non-null) count, and min/max rendered as strings
    (native-type comparison FIRST, string cast only on the two surviving
    scalars — so numeric columns order numerically, and the string cast
    is portable for int/string/date columns; float/timestamp rendering
    is the caller's contract to avoid).

    100-TB shape: ONE pass — a single agg computes every column's
    metrics together (multiple DISTINCT aggregates plan as one Expand),
    then the 1-row result unpivots driver-free via stack(); the table is
    scanned once regardless of column count.
    """
    if not cols:
        raise ValueError("profile_columns: cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("long")
            .alias(f"_nn{i}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"_nd{i}"),
            F.min(F.col(c)).cast("string").alias(f"_mi{i}"),
            F.max(F.col(c)).cast("string").alias(f"_ma{i}"),
        ]
    row = df.agg(*aggs)
    pieces = ", ".join(
        f"'{c}', _nn{i}, _nd{i}, _mi{i}, _ma{i}"
        for i, c in enumerate(cols))
    stacked = F.expr(
        f"stack({len(cols)}, {pieces}) AS (column, n_null, n_distinct, "
        "min_s, max_s)")
    return row.select(F.col("_n").alias("n_rows"), stacked) \
        .select("column", "n_rows", "n_null", "n_distinct", "min_s",
                "max_s")


def global_ordinal(df: DataFrame, bucket_col: str, order: Sequence[str],
                   out: str = "ordinal") -> DataFrame:
    """Global 1-based ordinal over a total order WITHOUT the
    single-partition global window (the classic zipWithIndex problem):
    two-phase — per-bucket counts cumulate into bucket offsets on the
    bucket-sized side table (the only globally-ordered window runs
    there, over buckets not rows), offsets broadcast back, and the
    per-row ordinal is offset + row_number inside the bucket.

    Contract (caller's invariant): `bucket_col` must be a monotone
    non-decreasing function of the leading `order` column (e.g. the day
    of a timestamp ordered by (ts, id)) — then bucket blocks are
    contiguous in the total order and the two-phase rank equals the
    declarative row_number() OVER (ORDER BY order...) exactly.

    100-TB shape: one combinable count agg, one window over the tiny
    bucket table, one broadcast join, one per-bucket (not global) sort
    for the row_number — the full table never funnels through a single
    partition.
    """
    counts = df.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("_bn"))
    woff = (Window.orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.select(
        bucket_col,
        F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias("_off"))
    wrn = Window.partitionBy(bucket_col).orderBy(*order)
    return (df.join(F.broadcast(offs), bucket_col)
            .withColumn(out, (F.col("_off") + F.row_number().over(wrn))
                        .cast("long"))
            .drop("_off"))


def ewma_per_key(df: DataFrame, keys: Sequence[str], ts_col: str,
                 val_col: str, alpha: float,
                 order: Sequence[str] | None = None) -> DataFrame:
    """Exponential smoothing (EWMA) per key over the time-ordered value
    stream: s_1 = x_1, s_t = alpha*x_t + (1-alpha)*s_{t-1}; returns one
    row per key with (n long, ewma double) — the trend/level signal no
    native Spark window can state (the recurrence isn't a frame
    aggregate).

    Exactness contract: alpha must be exactly representable (k/2^m —
    enforced); the fold applies the SAME left-assoc IEEE tree
    (acc*(1-alpha) + x*alpha) in the same element order on both engines
    (Spark F.aggregate with init = first element == DuckDB list_reduce,
    whose accumulator seeds from the first element), so the resulting
    double is bit-identical cross-engine.  Inputs should be exact
    (cents-quantized) so element doubles are exact to begin with.

    100-TB shape: one (keys) exchange carrying (ts, tiebreak, value)
    triples, a native sorted-array fold with O(1) state per key — the
    same per-key envelope every W-family traversal carries.
    """
    m = alpha * (1 << 20)
    if not (0.0 < alpha < 1.0) or m != int(m):
        raise ValueError("ewma_per_key: alpha must be in (0,1) and "
                         "exactly representable as k/2^20")
    ob = [F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts")] + \
         [F.col(c).cast("long").alias(f"_o{i}")
          for i, c in enumerate(order or [])]
    ev = df.select(*[F.col(k) for k in keys],
                   F.struct(*ob, F.col(val_col).cast("double")
                            .alias("v")).alias("_e"))
    g = ev.groupBy(*keys).agg(
        F.sort_array(F.collect_list("_e")).alias("_evs"))
    vs = F.transform("_evs", lambda e: e["v"])
    rest = F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0)))
    folded = F.aggregate(
        rest, F.element_at(vs, 1),
        lambda acc, x: acc * F.lit(1.0 - alpha) + x * F.lit(alpha))
    return g.select(*keys, F.size("_evs").cast("long").alias("n"),
                    folded.alias("ewma"))


def weighted_median(df: DataFrame, keys: Sequence[str], val_col: str,
                    weight_col: str) -> DataFrame:
    """Exact weighted median per key over integer values and positive
    integer weights: the smallest value v whose cumulative weight
    reaches half the total — 2*cumw(v) >= totw, all-BIGINT so any
    engine agrees (the dwell-weighted location median shape).

    100-TB shape: duplicates collapse in a combinable (keys, v) weight
    sum FIRST (the exchange carries per-value partials, never rows),
    then one per-key ordered window cumsum over the collapsed values
    and a min-filter — per-key state is one running sum over distinct
    values, not the row set.
    """
    v = F.col(val_col).cast("long")
    w = F.col(weight_col).cast("long")
    coll = (df.select(*keys, v.alias("_v"), w.alias("_w"))
            .groupBy(*keys, "_v").agg(F.sum("_w").alias("_wv")))
    wc = (Window.partitionBy(*keys).orderBy("_v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy(*keys)
    c = (coll.withColumn("_cum", F.sum("_wv").over(wc))
         .withColumn("_tot", F.sum("_wv").over(wt)))
    return (c.filter(2 * F.col("_cum") >= F.col("_tot"))
            .groupBy(*keys).agg(F.min("_v").alias("wmedian"),
                                F.max("_tot").cast("long").alias("w_total")))


def linreg_per_group(df: DataFrame, keys: Sequence[str], x_col: str,
                     y_col: str) -> DataFrame:
    """Per-group simple linear regression (OLS trend) with a bit-portable
    contract: all five sufficient statistics (n, Sx, Sy, Sxx, Sxy) are
    exact int64 sums over integer inputs, and slope / intercept are each
    ONE fixed IEEE expression over those ints —
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx),
    intercept = (Sy - slope*Sx) / n — so any engine replaying the trees
    produces the same bits.  Degenerate groups (zero x-variance) return
    NULL slope/intercept rather than a fabricated fit.

    Overflow envelope ENFORCED with a raise (int64 wraps silently):
    requires n*max|x| < 2^31 AND n*max|y| < 2^31 per group, which bounds
    every product above (n*Sxx <= (n*max|x|)^2, n*Sxy, Sx*Sx, Sx*Sy)
    below 2^62 — one driver-scalar check over the group-stats table.
    Rebase x to a small unit (minutes from the group start, not epoch
    micros) to stay inside it.

    100-TB shape: one combinable stats agg (5 longs per group); nothing
    else moves.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    st = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.max(wide_abs(x)).alias("_ax"),
        F.max(wide_abs(y)).alias("_ay"))
    require(st, (
        F.max(wide("n") * F.greatest("_ax", "_ay")),
        lambda env: env >= (1 << 31),
        lambda env: f"linreg_per_group: max(n*max|x|, n*max|y|) = {env} "
                    f"breaches the int64 envelope (< 2^31); "
                    f"rebase/rescale x or y"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(den != 0, num.cast("double") / den.cast("double"))
    intercept = F.when(
        den != 0,
        (F.col("sy").cast("double") - F.col("_slope")
         * F.col("sx").cast("double")) / F.col("n").cast("double"))
    return (st.withColumn("_slope", slope)
            .withColumn("intercept", intercept)
            .select(*keys, "n", "sx", "sy", "sxx", "sxy",
                    F.col("_slope").alias("slope"), "intercept"))


def asof_nearest(left: DataFrame, right: DataFrame, keys: Sequence[str],
                 left_ts: str, right_ts: str,
                 value_cols: Sequence[str]) -> DataFrame:
    """Nearest-event as-of join: for each left row, the right row (per
    key) with the MINIMUM absolute time distance, ties to the earlier
    side — J6's backward scan generalized to both directions (sensor
    alignment / nearest-snapshot attribution).  Adds `matched_ts_us`
    (long, null when the key has no right rows) and a signed `diff_us`
    (matched − left; negative = matched earlier) plus the right value
    columns.

    Shape: the same union-merge trick as asof_join run in BOTH
    directions — one shuffle on (keys), two ordered window passes (asc
    and desc) carrying a packed payload struct, then an integer
    distance compare picks the side.  A right row at the exact left
    timestamp is visible to both passes (side orders right before left
    at ts ties) and wins with diff 0.  No join against the right table
    at all, so right-side skew cannot create a hot build side.
    """
    pay = F.struct(
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("_mts"),
        *[F.col(c) for c in value_cols])
    rt = (right.select(*keys, pay.alias("_pay"))
          .withColumn("_ats", F.col("_pay._mts"))
          .withColumn("_side", F.lit(0)))
    pay_type = dict(rt.dtypes)["_pay"]
    lt = (left.withColumn(
        "_ats", F.unix_micros(F.col(left_ts).cast("timestamp")))
        .withColumn("_side", F.lit(1))
        .withColumn("_pay", F.lit(None).cast(pay_type)))
    u = lt.unionByName(rt.select(*keys, "_ats", "_side", "_pay"),
                       allowMissingColumns=True)
    wb = (Window.partitionBy(*keys).orderBy("_ats", "_side")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy(*keys)
          .orderBy(F.col("_ats").desc(), "_side")
          .rowsBetween(Window.unboundedPreceding, 0))
    u = (u.withColumn("_prev", F.last("_pay", ignorenulls=True).over(wb))
         .withColumn("_next", F.last("_pay", ignorenulls=True).over(wf)))
    res = u.filter(F.col("_side") == 1)
    dp = F.col("_ats") - F.col("_prev._mts")
    dn = F.col("_next._mts") - F.col("_ats")
    pick_prev = F.col("_next").isNull() | \
        (F.col("_prev").isNotNull() & (dp <= dn))
    m = F.when(pick_prev, F.col("_prev")).otherwise(F.col("_next"))
    out_cols = [c for c in left.columns]
    return res.select(
        *out_cols,
        m["_mts"].alias("matched_ts_us"),
        (m["_mts"] - F.col("_ats")).alias("diff_us"),
        *[m[c].alias(c) for c in value_cols])


def polygon_area_centroid(df: DataFrame, poly_keys: Sequence[str],
                          seq_col: str, x_col: str, y_col: str,
                          ) -> DataFrame:
    """Shoelace signed area and centroid per polygon (vertex table in
    integer coordinates, one row per vertex, ring closed implicitly):
    returns (poly_keys..., n_verts long, area2 long — TWICE the signed
    area, CCW positive, exact — cx double, cy double).  Degenerate
    rings (area2 == 0) return NULL centroid.

    Exactness: vertices are rebased to the per-polygon minimum corner
    FIRST (area/centroid are translation-equivariant), so every cross
    product and centroid moment is small-int64 exact; the centroid is
    min + moment / (3·area2) — one IEEE division per axis over exact
    ints, bit-portable.  Overflow envelope ENFORCED with a raise:
    rebased extent < 2^14 and ring length < 2^16 bound the summed
    moments below 2^62.

    100-TB shape: one (poly) exchange for the ordered window (lead +
    wrap via first_value), one combinable moment agg — per-ring state
    is a handful of longs, rings never collect to the driver.
    """
    wp = Window.partitionBy(*poly_keys)
    wo = Window.partitionBy(*poly_keys).orderBy("_seq")
    wfull = wo.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    d = df.select(*poly_keys, F.col(seq_col).alias("_seq"),
                  (x - F.min(x).over(wp)).alias("_xr"),
                  (y - F.min(y).over(wp)).alias("_yr"),
                  F.min(x).over(wp).alias("_mx"),
                  F.min(y).over(wp).alias("_my"))
    wx, wy = wide(x), wide(y)
    ext = F.greatest(wx - F.min(wx).over(wp), wy - F.min(wy).over(wp))
    rings = (df.select(*poly_keys, ext.alias("_ext")).groupBy(*poly_keys)
             .agg(F.max("_ext").alias("_ext"),
                  F.count(F.lit(1)).alias("_len")))
    require(rings, (
        F.struct(F.max("_ext").alias("ext"), F.max("_len").alias("len")),
        lambda e: e.ext is not None
        and (e.ext >= (1 << 14) or e.len >= (1 << 16)),
        lambda e: f"polygon_area_centroid: rebased extent {e.ext} / ring "
                  f"length {e.len} breach the int64 envelope "
                  f"(extent < 2^14, length < 2^16); rescale coordinates"))
    x2 = F.coalesce(F.lead("_xr").over(wo), F.first("_xr").over(wfull))
    y2 = F.coalesce(F.lead("_yr").over(wo), F.first("_yr").over(wfull))
    cross = F.col("_xr") * y2 - x2 * F.col("_yr")
    e = d.select(*poly_keys, "_mx", "_my", cross.alias("_c"),
                 ((F.col("_xr") + x2) * cross).alias("_sx"),
                 ((F.col("_yr") + y2) * cross).alias("_sy"))
    g = e.groupBy(*poly_keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_verts"),
        F.sum("_c").cast("long").alias("area2"),
        F.sum("_sx").cast("long").alias("_msx"),
        F.sum("_sy").cast("long").alias("_msy"),
        F.min("_mx").alias("_mx"), F.min("_my").alias("_my"))
    nz = F.col("area2") != 0
    cx = F.when(nz, F.col("_mx").cast("double")
                + F.col("_msx").cast("double")
                / (F.lit(3.0) * F.col("area2").cast("double")))
    cy = F.when(nz, F.col("_my").cast("double")
                + F.col("_msy").cast("double")
                / (F.lit(3.0) * F.col("area2").cast("double")))
    return g.select(*poly_keys, "n_verts", "area2",
                    cx.alias("cx"), cy.alias("cy"))


def cusum_alarm(df: DataFrame, keys: Sequence[str], ts_col: str,
                val_col: str, drift_k: int, threshold: int,
                order: Sequence[str] | None = None) -> DataFrame:
    """One-sided CUSUM change-point detection per key, ALL-INTEGER: the
    classic drift alarm s_t = max(0, s_{t-1} + (x_t - k)) with an alarm
    when s_t >= h — upward level-shift detection on metrics/QPS/error
    counts.  Returns one row per key: (n long, max_cusum long,
    alarm_pos long nullable — 1-based index of the FIRST alarm in
    (ts, order) sequence, null if never).

    Spark-first shape: instead of a stateful fold, the recurrence is
    solved in closed form — with y_t = x_t - k and prefix sums P_t
    (P_0 = 0), s_t = P_t - min(P_j, j <= t) = P_t - least(0, running
    min of P) — so the whole operator is two running windows + one
    combinable agg, O(1) per-key window state and NO per-key array.
    Pure integer (max, +) arithmetic: any engine agrees bit for bit.

    Overflow envelope ENFORCED with a raise: |P_t| <= n * max|x - k|
    must stay below 2^62 (checked by one tiny pre-agg; int64 wraps
    silently otherwise).
    """
    if threshold <= 0:
        raise ValueError("cusum_alarm: threshold must be positive")
    y = F.col(val_col).cast("long") - F.lit(int(drift_k))
    ob = [F.unix_micros(F.col(ts_col).cast("timestamp"))] + \
         [F.col(c) for c in (order or [])]
    wy = wide(F.col(val_col).cast("long")) - int(drift_k)
    require(df.groupBy(*keys)
            .agg((wide(F.count(F.lit(1))) * F.max(wide_abs(wy)))
                 .alias("_b")), (
        F.max("_b"),
        lambda env: env >= (1 << 62),
        lambda env: f"cusum_alarm: n*max|x-k| = {env} breaches the int64 "
                    f"envelope (< 2^62); rescale values"))
    d = (df.select(*keys, *[o.alias(f"_ob{i}") for i, o in enumerate(ob)],
                   y.alias("_y"))
         .withColumn("_p", F.sum("_y").over(
             _w(keys, [f"_ob{i}" for i in range(len(ob))])
             .rowsBetween(Window.unboundedPreceding, 0)))
         .withColumn("_rn", F.row_number().over(
             _w(keys, [f"_ob{i}" for i in range(len(ob))]))))
    runmin = F.min("_p").over(
        _w(keys, [f"_ob{i}" for i in range(len(ob))])
        .rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn(
        "_s", F.col("_p") - F.least(F.lit(0).cast("long"), runmin))
    return (d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("_s").cast("long").alias("max_cusum"),
        F.min(F.when(F.col("_s") >= F.lit(int(threshold)),
                     F.col("_rn"))).cast("long").alias("alarm_pos")))


def top_paths(df: DataFrame, session_keys: Sequence[str],
              order: Sequence[str], state_col: str, depth: int,
              k: int) -> DataFrame:
    """Top-k session paths — the Sankey/user-flow aggregation: each
    session reduced to the '>'-joined sequence of its first `depth`
    states in event order, then counted and ranked (ties broken by path
    string for a deterministic prefix).  Returns (path string, n_sess
    long, rank long).

    100-TB shape: one (session) exchange to assemble ordered prefixes
    (slice caps the payload at `depth` states per session BEFORE the
    count exchange), a combinable path count (paths-vocabulary-sized),
    and a TakeOrderedAndProject-style top-k on the tiny count table.
    """
    if depth < 1 or k < 1:
        raise ValueError("top_paths: depth and k must be >= 1")
    ob = [F.col(c).cast("long").alias(f"_o{i}")
          for i, c in enumerate(order)]
    ev = df.select(*[F.col(c) for c in session_keys],
                   F.struct(*ob, F.col(state_col).cast("string")
                            .alias("s")).alias("_e"))
    paths = (ev.groupBy(*session_keys)
             .agg(F.array_join(
                 F.slice(F.transform(
                     F.sort_array(F.collect_list("_e")),
                     lambda e: e["s"]), 1, depth), ">").alias("path")))
    cnt = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sess"))
    w = Window.orderBy(F.col("n_sess").desc(), "path")
    return (cnt.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))


def trimmed_mean(df: DataFrame, keys: Sequence[str], val_col: str,
                 lo_pct: int = 25, hi_pct: int = 75) -> DataFrame:
    """Exact interquartile (trimmed) mean per key over integer values —
    the robust location estimate: keep rows whose rank falls strictly
    inside the [lo, hi] percentile band by position (rank-based, so the
    kept multiset is engine-independent on any input with ties), emit
    the exact integer evidence (n_total, n_kept, sum_kept) plus the
    mean as ONE IEEE division.  Keep rule: 100*(r-1) >= lo*(n-1) and
    100*(r-1) <= hi*(n-1) over dense ordinal positions r = 1..n in
    (value, arrival-free deterministic) order — all-integer, no float
    percentile anywhere.

    100-TB shape: one (keys) ordered window for positions + a
    combinable filtered agg; per-key state is a row counter.
    """
    if not (0 <= lo_pct <= hi_pct <= 100):
        raise ValueError("trimmed_mean: need 0 <= lo <= hi <= 100")
    v = F.col(val_col).cast("long")
    w = Window.partitionBy(*keys).orderBy("_v")
    wt = Window.partitionBy(*keys)
    d = df.select(*keys, v.alias("_v")) \
          .withColumn("_r", F.row_number().over(w)) \
          .withColumn("_n", F.count(F.lit(1)).over(wt))
    keep = (F.lit(100) * (F.col("_r") - 1) >= F.lit(lo_pct)
            * (F.col("_n") - 1)) & \
           (F.lit(100) * (F.col("_r") - 1) <= F.lit(hi_pct)
            * (F.col("_n") - 1))
    g = d.groupBy(*keys).agg(
        F.max("_n").cast("long").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, F.col("_v")).otherwise(0)).cast("long")
        .alias("sum_kept"))
    mean = F.when(F.col("n_kept") > 0,
                  F.col("sum_kept").cast("double")
                  / F.col("n_kept").cast("double"))
    return g.select(*keys, "n_total", "n_kept", "sum_kept",
                    mean.alias("trimmed_mean"))


def simplify_radial(df: DataFrame, keys: Sequence[str],
                    order: Sequence[str], x_col: str, y_col: str,
                    eps: int) -> DataFrame:
    """Radial-distance trajectory simplification per key — the standard
    pre-pass of every polyline simplifier (and the cheap alternative to
    Douglas-Peucker): walk the ordered points and KEEP a point iff its
    squared planar distance from the LAST KEPT point is >= eps²; the
    first point is always kept.  Returns the kept points as rows
    (keys..., pos long 1-based original position, x long, y long).

    Exactness: all-integer squared distances — the decision sequence is
    a deterministic fold any engine replays bit for bit.  State is
    inherently sequential (each decision depends on the last KEPT
    point, not the previous point), so unlike CUSUM there is no
    prefix-sum closed form; this is the fold contract (same as
    ewma_per_key) with per-key O(kept) state.  Envelope: |coords| <
    2^30 enforced (squared deltas must fit int64).

    100-TB shape: one (keys) exchange of (order, x, y) triples; the
    fold emits only kept points, so heavy oversampled traces shrink
    in-operator before anything else sees them.
    """
    if eps <= 0:
        raise ValueError("simplify_radial: eps must be positive")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    require(df, (
        F.max(F.greatest(wide_abs(x), wide_abs(y))),
        lambda env: env >= (1 << 30),
        lambda env: f"simplify_radial: max |coord| = {env} breaches the "
                    f"int64 envelope (< 2^30); rescale coordinates"))
    dts = dict(df.dtypes)
    ob = [(F.unix_micros(F.col(c).cast("timestamp"))
           if dts.get(c, "").startswith("timestamp")
           else F.col(c).cast("long")).alias(f"_o{i}")
          for i, c in enumerate(order)]
    ev = df.select(*[F.col(k) for k in keys],
                   F.struct(*ob, x.alias("x"), y.alias("y")).alias("_e"))
    g = ev.groupBy(*keys).agg(
        F.sort_array(F.collect_list("_e")).alias("_evs"))
    kept_t = "array<struct<pos:bigint,x:bigint,y:bigint>>"
    init = F.struct(
        F.lit(0).cast("long").alias("lx"),
        F.lit(0).cast("long").alias("ly"),
        F.lit(0).cast("long").alias("i"),
        F.array().cast(kept_t).alias("kept"))

    def _fold(acc, e):
        i = acc["i"] + F.lit(1)
        dx = e["x"] - acc["lx"]
        dy = e["y"] - acc["ly"]
        take = (acc["i"] == 0) | \
            (dx * dx + dy * dy >= F.lit(int(eps) * int(eps)))
        rec = F.struct(i.alias("pos"), e["x"].alias("x"),
                       e["y"].alias("y"))
        return F.struct(
            F.when(take, e["x"]).otherwise(acc["lx"]).alias("lx"),
            F.when(take, e["y"]).otherwise(acc["ly"]).alias("ly"),
            i.alias("i"),
            F.when(take, F.array_append(acc["kept"], rec))
            .otherwise(acc["kept"]).alias("kept"))

    folded = g.select(*keys,
                      F.aggregate("_evs", init, _fold)["kept"]
                      .alias("_kept"))
    ex = folded.select(*keys, F.explode("_kept").alias("_k"))
    return ex.select(*keys, F.col("_k.pos").alias("pos"),
                     F.col("_k.x").alias("x"), F.col("_k.y").alias("y"))


def negative_sampling(df: DataFrame, id_col: str, k: int,
                      salt: str = "ns") -> DataFrame:
    """Deterministic negative sampling for contrastive pretraining: for
    every anchor row, k pseudo-random OTHER ids drawn by hash-stepping
    over the id space — (anchor_id, neg_rank 1..k, neg_id), retry-stable
    (pure function of ids + salt, no RNG state) and self-exclusive.

    Construction, exact on any engine: n = count of distinct ids,
    ranked 0..n-1 by a dense ordinal; negative j of anchor with ordinal
    r is the id at ordinal (r + step_j) mod n where step_j =
    1 + (md5_60(salt‖anchor‖j) mod (n-1)) — step is never 0 mod n, so a
    negative NEVER equals its anchor, and for fixed j the map r -> r +
    step_j is a bijection only per-anchor (anchors draw independent
    steps).  All arithmetic int64; needs n >= 2.

    100-TB shape: the ordinal table is one distinct + a TWO-PHASE
    global ordinal (global_ordinal with the id's high bits as the
    monotone bucket — no single-partition window even when the id
    space itself is huge); negatives join back to ids by ordinal —
    one equi join against the id-sized table, no corpus shuffle at all.
    """
    if k < 1:
        raise ValueError("negative_sampling: k must be >= 1")
    ids = df.select(F.col(id_col).cast("long").alias("_id")).distinct()
    n = ids.count()
    if n < 2:
        raise ValueError("negative_sampling: need at least 2 distinct ids")
    ord_ = (global_ordinal(
        ids.withColumn("_bk", F.shiftright("_id", 16)), "_bk", ["_id"])
        .withColumn("_r", F.col("ordinal") - 1)
        .select("_id", "_r"))
    ks = F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("neg_rank")
    a = ord_.select(F.col("_id").alias("anchor_id"),
                    F.col("_r").alias("_ar")).select("*", ks)
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(salt), F.col("anchor_id").cast("string"),
        F.col("neg_rank").cast("string"))), 1, 15), 16, 10).cast("long")
    step = F.lit(1) + F.pmod(h, F.lit(n - 1))
    tgt = F.pmod(F.col("_ar") + step, F.lit(n))
    pick = a.withColumn("_tr", tgt)
    out = pick.join(ord_.select(F.col("_id").alias("neg_id"),
                                F.col("_r").alias("_tr")), "_tr")
    return out.select("anchor_id", F.col("neg_rank").cast("long")
                      .alias("neg_rank"), "neg_id")


def audience_overlap(df: DataFrame, seg_col: str, user_col: str,
                     ) -> DataFrame:
    """Segment-overlap matrix — the audience/cohort intersection query:
    for every unordered pair of segments (a < b), the exact distinct
    user intersection |A ∩ B| plus |A| and |B| (Jaccard/containment left
    to the consumer as exact integer evidence).

    100-TB shape: the corpus collapses to distinct (segment, user)
    memberships FIRST (map-side combinable), sizes are a tiny per-seg
    count, and the intersection is a self-join on user over the
    membership table — each user contributes only their own segment
    pairs (deg²/2 per user), never a corpus-wide cross.
    """
    m = (df.select(F.col(seg_col).alias("_s"),
                   F.col(user_col).alias("_u")).distinct())
    sz = m.groupBy("_s").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = m.alias("a"), m.alias("b")
    inter = (a.join(b, (F.col("a._u") == F.col("b._u"))
                    & (F.col("a._s") < F.col("b._s")))
             .groupBy(F.col("a._s").alias("seg_a"),
                      F.col("b._s").alias("seg_b"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    return (inter
            .join(F.broadcast(sz.select(F.col("_s").alias("seg_a"),
                                        F.col("n").alias("n_a"))), "seg_a")
            .join(F.broadcast(sz.select(F.col("_s").alias("seg_b"),
                                        F.col("n").alias("n_b"))), "seg_b")
            .select("seg_a", "seg_b", "n_common", "n_a", "n_b"))


def sample_bottomk(df: DataFrame, keys: Sequence[str], id_col: str,
                   k: int, salt: str = "bk") -> DataFrame:
    """Deterministic uniform without-replacement sample of k rows per
    group — bottom-k by portable hash: rank rows by (md5_60(salt‖id),
    id) and keep the k smallest.  The classic distinct-sampling
    primitive (a mergeable bottom-k sketch: the union's bottom-k is the
    bottom-k of the parts' bottom-k's), retry-stable and
    partitioning-independent where Spark's sample()/sampleBy() are
    partition-seeded RNG.

    100-TB shape: one (keys) exchange + per-key TOP-K window (rank
    window with a k filter plans as WindowGroupLimit — per-partition
    heaps, map-side partial limit, never a full per-key sort spill).
    """
    if k < 1:
        raise ValueError("sample_bottomk: k must be >= 1")
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(salt), F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("long")
    w = Window.partitionBy(*keys).orderBy("_h", id_col)
    return (df.withColumn("_h", h)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select(*df.columns, F.col("_rk").cast("long")
                    .alias("sample_rank")))


def gini_coefficient(df: DataFrame, keys: Sequence[str],
                     val_col: str) -> DataFrame:
    """Exact Gini concentration coefficient per key over non-negative
    integer values — "how unequal is traffic/volume across hosts", the
    standard skew KPI.  Uses the rank formula over the ascending sort:
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx), emitted as exact integer
    evidence (n, sum_v, weighted_rank_sum) plus gini = ONE IEEE division
    of the two exact int64 sides.  Tied values contribute identically
    under any tie order (equal x swaps change nothing), so the result is
    engine-independent; groups with Σx = 0 return NULL.

    Overflow envelope ENFORCED: n·max(x) < 2³¹ bounds Σ i·x ≤ n·n·max(x)
    below 2⁶² (one tiny pre-agg check; negative values also raise —
    Gini is defined on non-negative quantities).

    100-TB shape: one per-key ordered window (rank) + one combinable
    agg; per-key state is a row counter.
    """
    v = F.col(val_col).cast("long")
    pre = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"), F.max(v).alias("_mx"),
        F.min(v).alias("_mn"))
    require(pre, (F.min("_mn"), lambda mn: mn < 0,
                  "gini_coefficient: values must be non-negative"), (
        F.max(wide("_n") * F.col("_mx")),
        lambda env: env >= (1 << 31),
        lambda env: f"gini_coefficient: n*max(x) = {env} breaches the "
                    f"int64 envelope (< 2^31); rescale values"))
    w = Window.partitionBy(*keys).orderBy("_v")
    d = df.select(*keys, v.alias("_v")) \
          .withColumn("_r", F.row_number().over(w))
    g = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_v").cast("long").alias("sum_v"),
        F.sum(F.col("_r") * F.col("_v")).cast("long").alias("wrs"))
    num = 2 * F.col("wrs") - (F.col("n") + 1) * F.col("sum_v")
    den = F.col("n") * F.col("sum_v")
    gini = F.when(F.col("sum_v") > 0,
                  num.cast("double") / den.cast("double"))
    return g.select(*keys, "n", "sum_v", "wrs", gini.alias("gini"))


def lift_table(df: DataFrame, score_col: str, label_col: str,
               id_col: str, n_buckets: int = 10) -> DataFrame:
    """Model-evaluation lift/gains table: rank rows by score DESCENDING
    (ties broken by id for a total order), cut into n_buckets equal-ish
    ntiles, and emit per bucket the exact integer evidence (n, n_pos,
    cum_n, cum_pos) plus rate and cumulative lift as fixed IEEE trees
    over those ints — "does the top decile capture the positives".

    lift_k = (cum_pos/cum_n) / (total_pos/total_n), computed as
    (cum_pos·total_n) / (cum_n·total_pos) in exact int64 then ONE
    division — bit-portable; NULL when total_pos = 0.

    100-TB shape: one global ordered rank — by design over the SCORED
    table (model-eval sized, not corpus-sized); for corpus-scale inputs
    compose with global_ordinal's two-phase bucket trick; then one
    combinable bucket agg + a running window over n_buckets rows.
    """
    if n_buckets < 1:
        raise ValueError("lift_table: n_buckets must be >= 1")
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    d = df.select(F.col(score_col), F.col(id_col),
                  F.col(label_col).cast("long").alias("_y")) \
          .withColumn("_b", F.ntile(n_buckets).over(w).cast("long"))
    g = d.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"))
    wc = (Window.orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy()
    c = (g.withColumn("cum_n", F.sum("n").over(wc).cast("long"))
         .withColumn("cum_pos", F.sum("n_pos").over(wc).cast("long"))
         .withColumn("_tn", F.sum("n").over(wt).cast("long"))
         .withColumn("_tp", F.sum("n_pos").over(wt).cast("long")))
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    lift = F.when(F.col("_tp") > 0,
                  (F.col("cum_pos") * F.col("_tn")).cast("double")
                  / (F.col("cum_n") * F.col("_tp")).cast("double"))
    return c.select(F.col("_b").alias("bucket"), "n", "n_pos",
                    "cum_n", "cum_pos", rate.alias("pos_rate"),
                    lift.alias("cum_lift"))


def max_drawdown(df: DataFrame, keys: Sequence[str], ts_col: str,
                 val_col: str,
                 order: Sequence[str] | None = None) -> DataFrame:
    """Maximum drawdown per key over the time-ordered integer series —
    the classic peak-to-trough risk statistic: dd_t = runmax(x) − x_t,
    answer = max_t dd_t, plus the running peak at that trough.  Returns
    (keys..., n long, max_dd long, peak long) — all-integer windows
    (runmax + a combinable max), the same closed-form-over-windows shape
    as CUSUM: no fold, O(1) per-key window state, bit-portable.
    """
    ob = [F.unix_micros(F.col(ts_col).cast("timestamp"))] + \
         [F.col(c) for c in (order or [])]
    obn = [o.alias(f"_ob{i}") for i, o in enumerate(ob)]
    v = F.col(val_col).cast("long")
    d = df.select(*keys, *obn, v.alias("_v"))
    wrun = (_w(keys, [f"_ob{i}" for i in range(len(ob))])
            .rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn("_pk", F.max("_v").over(wrun))
    d = d.withColumn("_dd", F.col("_pk") - F.col("_v"))
    return (d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("_dd").cast("long").alias("max_dd"),
        F.max_by(F.col("_pk"), F.struct(F.col("_dd"), F.col("_pk")))
        .cast("long").alias("peak")))


def diversified_topk(df: DataFrame, group_col: str, order_col: str,
                     id_col: str, k: int, per_group: int) -> DataFrame:
    """Diversified global top-k — the search-results rule "at most m per
    domain": rank rows inside each group by (order desc, id), keep the
    best `per_group` per group, then take the global top k by the same
    order.  Returns the surviving rows + (group_rank long, global_rank
    long).  All-integer ranking with id tiebreaks — deterministic and
    engine-portable.

    100-TB shape: the per-group window + filter plans as per-partition
    heaps (WindowGroupLimit) and kills all but per_group rows per group
    BEFORE the global rank, which then runs over at most
    per_group·|groups| rows — the global ordered window never sees the
    corpus.
    """
    if k < 1 or per_group < 1:
        raise ValueError("diversified_topk: k and per_group must be >= 1")
    wg = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col))
    d = (df.withColumn("group_rank", F.row_number().over(wg).cast("long"))
         .filter(F.col("group_rank") <= per_group))
    wglob = Window.orderBy(F.col(order_col).desc(), F.col(id_col))
    return (d.withColumn("global_rank",
                         F.row_number().over(wglob).cast("long"))
            .filter(F.col("global_rank") <= k))


def golden_record(df: DataFrame, key: str, ts_col: str,
                  value_cols: Sequence[str],
                  order: Sequence[str] | None = None) -> DataFrame:
    """Survivorship / golden-record consolidation — the MDM primitive:
    one row per key where EACH column independently takes its most
    recent NON-NULL value across the key's records (a newer record with
    a null field must not erase an older known value).  Returns
    (key, *value_cols, last_ts_us long).

    Shape: one ordered window per key with last(col, ignorenulls) per
    column + keep the final row — a single (key) exchange however many
    columns consolidate; pure column operations, engine-portable.
    """
    ob = [F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts")] + \
         [F.col(c).cast("long").alias(f"_o{i}")
          for i, c in enumerate(order or [])]
    d = df.select(F.col(key), *ob, *[F.col(c) for c in value_cols])
    ocols = ["_ts"] + [f"_o{i}" for i in range(len(order or []))]
    w = (Window.partitionBy(key).orderBy(*ocols)
         .rowsBetween(Window.unboundedPreceding, 0))
    for c in value_cols:
        d = d.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    wr = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in ocols])
    return (d.withColumn("_rk", F.row_number().over(wr))
            .filter(F.col("_rk") == 1)
            .select(key, *value_cols, F.col("_ts").alias("last_ts_us")))


def mad_scale(df: DataFrame, keys: Sequence[str],
              val_col: str) -> DataFrame:
    """Median absolute deviation per key — the robust scale estimate
    (breakdown point 50% where sigma's is 0): m = median(x),
    mad = median(|x − m|).  Returns (keys..., n long, med double,
    mad double).

    Exactness: both medians are percentile(·, 0.5) with the (n−1)·p
    interpolation Spark and DuckDB share bit-for-bit; x are exact
    integers so m is exact-int-or-half, |x − m| is one IEEE subtract
    per row (identical operands → identical doubles), and the second
    percentile interpolates the identical sorted multiset — the whole
    chain is representation-deterministic.

    100-TB shape: two combinable percentile aggs over one (keys)
    partitioning; the deviation column is map-only between them.
    """
    v = F.col(val_col).cast("long")
    med = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile(v, F.lit(0.5)).alias("med"))
    j = df.select(*keys, v.alias("_v")).join(F.broadcast(med), list(keys))
    dev = F.abs(F.col("_v").cast("double") - F.col("med"))
    return (j.groupBy(*keys).agg(
        F.max("n").alias("n"), F.max("med").alias("med"),
        F.percentile(dev, F.lit(0.5)).alias("mad"))
        .select(*keys, F.col("n").cast("long").alias("n"), "med", "mad"))


def benford_digits(df: DataFrame, keys: Sequence[str],
                   val_col: str) -> DataFrame:
    """Benford first-digit profile per key — the audit/fraud screen:
    distribution of leading digits of positive integer values, with the
    exact observed counts and the observed-vs-Benford evidence left in
    integer/fixed-IEEE form (digit, n_d, n_total, obs_freq = n_d/n).
    Leading digit via string head (CAST long AS STRING has no sign/
    exponent for positives on either engine) — no float log anywhere.
    Zero/negative values are excluded (Benford is defined on positive
    magnitudes) but counted in n_excluded on every row.
    """
    v = F.col(val_col).cast("long")
    d = df.select(*keys, v.alias("_v"))
    pos = d.filter(F.col("_v") > 0).withColumn(
        "digit", F.substring(F.col("_v").cast("string"), 1, 1)
        .cast("long"))
    cnt = pos.groupBy(*keys, "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"))
    tot = pos.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"))
    exc = d.groupBy(*keys).agg(
        F.sum(F.when(F.col("_v") <= 0, 1).otherwise(0)).cast("long")
        .alias("n_excluded"))
    return (cnt.join(tot, list(keys)).join(exc, list(keys))
            .select(*keys, "digit", "n_d", "n_total", "n_excluded",
                    (F.col("n_d").cast("double")
                     / F.col("n_total").cast("double")).alias("obs_freq")))


def band_join(a: DataFrame, b: DataFrame, keys: Sequence[str],
              a_val: str, b_val: str, delta: int,
              a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """Band join — the value-proximity join family member next to the
    interval-overlap and as-of joins: all (a, b) pairs per key with
    |a.val − b.val| <= delta (integer values).  Returns
    (keys..., a_id, b_id, a_val named a_v, b_val named b_v, diff long =
    b_v − a_v, signed).

    Shape (the standard banding rewrite of an inequality join): bin
    values at width delta; a pair within the band ALWAYS lands in the
    same or adjacent bins, so exploding ONE side over its three
    neighboring bins and equi-joining on (keys, bin) generates a
    candidate superset with each pair generated EXACTLY ONCE (the
    b-side keeps its single true bin) — no distinct/dedup exchange;
    then one exact map-side |diff| filter.  Per-key skew spreads across
    bins; candidate fan-out per row is bounded by 3x the bin occupancy,
    never the key's full population (the naive per-key self-join is
    quadratic).
    """
    if delta <= 0:
        raise ValueError("band_join: delta must be positive")
    av = F.col(a_val).cast("long")
    bv = F.col(b_val).cast("long")
    d = int(delta)
    aa = explode_neighbours(a, [*keys, F.col(a_id), av.alias("a_v")],
                            [bin_floor(av, d)], ["_bin"])
    bb = b.select(*keys, F.col(b_id), bv.alias("b_v"),
                  bin_floor(bv, d).alias("_bin"))
    j = aa.join(bb, [*keys, "_bin"])
    return (j.filter(F.abs(F.col("b_v") - F.col("a_v")) <= d)
            .select(*keys, a_id, b_id, "a_v", "b_v",
                    (F.col("b_v") - F.col("a_v")).alias("diff")))


def radius_join_2d(a: DataFrame, b: DataFrame, keys: Sequence[str],
                   a_x: str, a_y: str, b_x: str, b_y: str, r: int,
                   a_id: str = "a_id", b_id: str = "b_id",
                   carry_b: Sequence[str] = (),
                   carry_a: Sequence[str] = ()) -> DataFrame:
    """2-D radius (distance) join — the planar sibling of `band_join`
    and the core spatial primitive under DBSCAN / proximity analytics:
    all (a, b) pairs per key with euclidean distance <= r over INTEGER
    coordinates, i.e. dx² + dy² <= r² exactly (no float distance
    anywhere).  Returns (keys..., a_id, b_id, a_x/a_y/b_x/b_y longs,
    dist2 long = dx² + dy², carry_a.../carry_b... ridden from their
    side so consumers never pay an id-keyed join-back; carry_a rides
    the 9-cell explode, so keep it narrow).

    Shape (grid-cell banding, the 2-D generalization of band_join's
    rewrite): bin both axes at cell width r; a within-radius pair ALWAYS
    lands in the same or an adjacent cell on each axis (|dx| <= r bounds
    the floor-div difference to one), so exploding the a-side over its
    3x3 cell neighborhood and equi-joining on (keys, cell_x, cell_y)
    generates a candidate superset with each pair generated EXACTLY
    ONCE — the b-side keeps its single true cell, so no dedup exchange
    exists — ahead of the exact integer dist² filter.  Hot-spot skew
    spreads across cells; candidate fan-out per row is bounded by 9x the
    cell occupancy, never the key's population (the naive per-key
    self-join is quadratic in the densest key).

    Envelope: r <= 2^29 is ENFORCED — candidates share-or-neighbor a
    cell so |dx|, |dy| <= 2r and dist² <= 8r² < 2^62; coordinates
    themselves may be any long (the cell id is coord/r, magnitude-
    reduced).  Self-join usage (a is b) yields both orientations plus
    the (i, i) self pair at dist² = 0 — filter a_id < b_id for unordered
    pairs, or keep the self pair for closed-neighborhood counts (DBSCAN
    counts it).
    """
    if r <= 0:
        raise ValueError("radius_join_2d: r must be positive")
    if r > (1 << 29):
        raise ValueError(
            f"radius_join_2d: r={r} breaches the int64 envelope "
            f"(dist² bound 8r² must stay < 2^62; r <= 2^29)")
    r = int(r)
    carry_b, carry_a = list(carry_b), list(carry_a)
    axc, ayc = F.col(a_x).cast("long"), F.col(a_y).cast("long")
    bxc, byc = F.col(b_x).cast("long"), F.col(b_y).cast("long")
    aa = explode_neighbours(
        a, [*keys, F.col(a_id), axc.alias("a_x"), ayc.alias("a_y"),
            *[F.col(c) for c in carry_a]],
        [bin_floor(axc, r), bin_floor(ayc, r)], ["_cx", "_cy"])
    bb = b.select(*keys, F.col(b_id), bxc.alias("b_x"), byc.alias("b_y"),
                  bin_floor(bxc, r).alias("_cx"),
                  bin_floor(byc, r).alias("_cy"),
                  *[F.col(c) for c in carry_b])
    j = aa.join(bb, [*keys, "_cx", "_cy"])
    dx = F.col("b_x") - F.col("a_x")
    dy = F.col("b_y") - F.col("a_y")
    d2 = (dx * dx + dy * dy)
    return (j.filter(d2 <= F.lit(r * r))
            .select(*keys, a_id, b_id, "a_x", "a_y", "b_x", "b_y",
                    d2.alias("dist2"), *carry_a, *carry_b))


def autocorr_lag(df: DataFrame, keys: Sequence[str], ts_col: str,
                 val_col: str, k: int = 1,
                 tiebreak: str | None = None) -> DataFrame:
    """Per-key lag-k autocorrelation with the linreg bit-portable
    contract: align each value with the value k rows later (ordered by
    ts, then `tiebreak`), reduce the aligned pairs to six EXACT int64
    sufficient statistics (n, sx, sy, sxx, syy, sxy), and emit Pearson r
    as one fixed IEEE tree over them —
    r = (n*sxy − sx*sy) / (sqrt(n*sxx − sx²) * sqrt(n*syy − sy²)) —
    so any engine replaying the tree produces the same bits (sqrt is
    correctly rounded by IEEE-754).  A zero-variance side returns NULL r
    (the exact integer evidence still rides the row); keys with fewer
    than k+1 rows have no aligned pairs and emit no row at all.

    Overflow envelope ENFORCED with a raise: n·max|x| < 2^31 per key
    bounds every product (n·sxx ≤ (n·max|x|)², sx·sy, n·sxy) below 2^62.

    100-TB shape: one per-key ordered window (lead) + one combinable
    stats agg — 6 longs per key cross the exchange; nothing else moves.
    """
    if k < 1:
        raise ValueError("autocorr_lag: k must be >= 1")
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    x = F.col(val_col).cast("long")
    d = (df.select(*keys, *([ts_col] + ([tiebreak] if tiebreak else [])),
                   x.alias("_x"))
         .withColumn("_y", F.lead("_x", k).over(w))
         .filter(F.col("_y").isNotNull()))
    st = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("sxy"),
        F.max(F.greatest(wide_abs("_x"), wide_abs("_y"))).alias("_am"))
    require(st, (
        F.max(wide("n") * F.col("_am")),
        lambda env: env >= (1 << 31),
        lambda env: f"autocorr_lag: n*max|x| = {env} breaches the int64 "
                    f"envelope (< 2^31); rescale values"))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when((vx > 0) & (vy > 0),
               num.cast("double")
               / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))))
    return st.select(*keys, "n", "sx", "sy", "sxx", "syy", "sxy",
                     r.alias("r"))


def basket_pairs(df: DataFrame, basket_col: str, item_col: str,
                 min_pair: int = 1,
                 max_basket: int = 10_000) -> DataFrame:
    """Market-basket pair mining (the co-occurrence / association-rule
    base table): distinct items per basket, support count for every
    unordered item pair, both item supports, and the basket total — so
    confidence (n_pair/n_a, n_pair/n_b) and lift
    (n_baskets·n_pair / (n_a·n_b)) ride the row, each as ONE fixed IEEE
    expression over exact int64 evidence.  Returns (item_a, item_b,
    n_pair, n_a, n_b, n_baskets, conf_a_b, conf_b_a, lift) with
    item_a < item_b and n_pair >= min_pair.

    100-TB shape: membership collapses to distinct (basket, item)
    map-side before anything else; pairs come from ONE self-equi-join on
    basket (fan-out C(|basket|, 2) — inherent to the statistic, and
    bounded by the ENFORCED max_basket raise because a single degenerate
    mega-basket would otherwise go quadratic); item supports are a
    vocab-sized agg broadcast back; n_baskets is a driver scalar.
    """
    if min_pair < 1:
        raise ValueError("basket_pairs: min_pair must be >= 1")
    m = df.select(F.col(basket_col).alias("_b"),
                  F.col(item_col).alias("_i")).distinct()
    sizes = m.groupBy("_b").agg(F.count(F.lit(1)).alias("_sz"))
    _, n_baskets = require(sizes, (
        F.max("_sz"),
        lambda sz: sz > max_basket,
        lambda sz: f"basket_pairs: largest basket has {sz} items "
                   f"(> max_basket={max_basket}); pair fan-out is "
                   f"quadratic in basket size — cap or pre-filter "
                   f"degenerate baskets"), F.count(F.lit(1)))
    supp = m.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    a = m.select(F.col("_b"), F.col("_i").alias("item_a"))
    b = m.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (a.join(b, "_b")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
             .filter(F.col("n_pair") >= min_pair))
    out = (pairs
           .join(F.broadcast(supp.select(F.col("_i").alias("item_a"),
                                         F.col("_n").alias("n_a"))),
                 "item_a")
           .join(F.broadcast(supp.select(F.col("_i").alias("item_b"),
                                         F.col("_n").alias("n_b"))),
                 "item_b")
           .withColumn("n_baskets", F.lit(n_baskets).cast("long")))
    conf_ab = F.col("n_pair").cast("double") / F.col("n_a").cast("double")
    conf_ba = F.col("n_pair").cast("double") / F.col("n_b").cast("double")
    lift = ((F.col("n_baskets") * F.col("n_pair")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"))
    return out.select("item_a", "item_b", "n_pair", "n_a", "n_b",
                      "n_baskets", conf_ab.alias("conf_a_b"),
                      conf_ba.alias("conf_b_a"), lift.alias("lift"))


def last_touch_attribution(df: DataFrame, keys: Sequence[str], ts_col: str,
                           type_col: str, id_col: str,
                           touch_types: Sequence[str], conv_type: str,
                           lookback_s: int) -> DataFrame:
    """Last-touch marketing attribution: each conversion event is
    credited to the LATEST touch event (per key) at or before it and
    within `lookback_s` seconds; conversions with no qualifying touch
    keep NULL attribution.  Ties: a touch at the conversion's exact
    instant qualifies; among same-instant touches the one with the
    larger id wins (latest-by-(ts, id), stated declaratively by the
    oracle as the rank-1 row under ORDER BY ts DESC, id DESC).  Returns
    (keys..., conv_id, conv_ts, touch_id, touch_type, touch_ts,
    delay_us) — delay in exact integer microseconds.

    100-TB shape: NO join — touches and conversions ride ONE per-key
    ordered window (order ts, then kind with touches first so an
    equal-instant touch is visible to the conversion, then id); the
    last-touch payload is a single last_value(ignorenulls) struct, and
    the lookback becomes a map-side null-out because the latest touch is
    also the minimum-delay touch (delay decreases monotonically with
    touch ts, so if the latest is out of window every touch is).
    """
    if lookback_s <= 0:
        raise ValueError("last_touch_attribution: lookback_s must be > 0")
    kind = F.when(F.col(type_col).isin(*touch_types), F.lit(0)) \
            .when(F.col(type_col) == conv_type, F.lit(1))
    d = (df.select(*keys, F.col(ts_col).alias("_ts"),
                   F.col(type_col).alias("_ty"),
                   F.col(id_col).alias("_id"), kind.alias("_k"))
         .filter(F.col("_k").isNotNull()))
    w = (Window.partitionBy(*keys)
         .orderBy("_ts", "_k", "_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    payload = F.when(F.col("_k") == 0,
                     F.struct(F.col("_ts").alias("ts"),
                              F.col("_id").alias("id"),
                              F.col("_ty").alias("ty")))
    t = (d.withColumn("_last", F.last(payload, ignorenulls=True).over(w))
         .filter(F.col("_k") == 1))
    delay = (F.unix_micros(F.col("_ts").cast("timestamp"))
             - F.unix_micros(F.col("_last.ts").cast("timestamp")))
    ok = F.col("_last").isNotNull() & \
        (delay <= F.lit(int(lookback_s) * 1_000_000))
    return t.select(
        *keys, F.col("_id").alias("conv_id"), F.col("_ts").alias("conv_ts"),
        F.when(ok, F.col("_last.id")).alias("touch_id"),
        F.when(ok, F.col("_last.ty")).alias("touch_type"),
        F.when(ok, F.col("_last.ts")).alias("touch_ts"),
        F.when(ok, delay).alias("delay_us"))


def rfm_segments(df: DataFrame, user_col: str, ts_col: str, type_col: str,
                 conv_type: str, val_col: str,
                 n_tiles: int = 4) -> DataFrame:
    """RFM customer segmentation: per user over their `conv_type` events,
    recency in whole days from the population's most recent conversion
    (floor of the exact microsecond difference), frequency, and monetary
    total — then an n_tiles score per dimension via ntile over a TOTAL
    order (metric, then user id), so the cut is deterministic and Spark
    and DuckDB share the first-buckets-take-the-extra-row rule (pinned
    by lift_table).  Score 1 is the BEST tier on every axis (most
    recent / most frequent / highest spend).  Returns (user, r_days, f,
    m, r_score, f_score, m_score) — all BIGINT.

    100-TB shape: one combinable per-user agg, the reference instant as
    one driver scalar, then three global ordered ntile windows — by
    design over the USER table; for corpus-scale user counts compose
    with global_ordinal's two-phase bucket trick (same documented
    posture as lift_table).
    """
    if n_tiles < 1:
        raise ValueError("rfm_segments: n_tiles must be >= 1")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    g = (df.filter(F.col(type_col) == conv_type)
         .groupBy(F.col(user_col).alias("user"))
         .agg(F.max(us).alias("_last_us"),
              F.count(F.lit(1)).cast("long").alias("f"),
              F.sum(F.col(val_col).cast("long")).cast("long").alias("m")))
    ref = g.agg(F.max("_last_us")).collect()[0][0]
    if ref is None:
        return g.select("user", F.lit(None).cast("long").alias("r_days"),
                        "f", "m",
                        *[F.lit(None).cast("long").alias(c)
                          for c in ("r_score", "f_score", "m_score")])
    d = g.withColumn("r_days", bin_floor(
        F.lit(int(ref)) - F.col("_last_us"), 86_400_000_000))
    wr = Window.orderBy(F.col("r_days").asc(), F.col("user").asc())
    wf = Window.orderBy(F.col("f").desc(), F.col("user").asc())
    wm = Window.orderBy(F.col("m").desc(), F.col("user").asc())
    return (d.withColumn("r_score", F.ntile(n_tiles).over(wr).cast("long"))
            .withColumn("f_score", F.ntile(n_tiles).over(wf).cast("long"))
            .withColumn("m_score", F.ntile(n_tiles).over(wm).cast("long"))
            .select("user", "r_days", "f", "m",
                    "r_score", "f_score", "m_score"))


def od_flows(df: DataFrame, keys: Sequence[str], ts_col: str,
             x_col: str, y_col: str, cell_size: int,
             tiebreak: str | None = None) -> DataFrame:
    """Origin-destination flow matrix over grid cells: each mover's
    ordered trace is reduced to consecutive cell transitions (same-cell
    steps drop — a flow is a MOVE), aggregated to (origin cell, dest
    cell, n_trips, n_movers) — the OD matrix under every mobility /
    migration analysis.  Cells are floor-division bins via the exact
    (a − pmod)/n identity, so negative coordinates bin correctly.

    100-TB shape: one per-mover ordered window (the standard W-family
    exchange) carrying only the two cell longs, then one combinable
    count + count-distinct agg on the four cell coordinates; hot cell
    pairs are combinable partials, never row explosions.
    """
    if cell_size <= 0:
        raise ValueError("od_flows: cell_size must be positive")
    cs = int(cell_size)
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    d = (df.select(*keys, *([ts_col] + ([tiebreak] if tiebreak else [])),
                   bin_floor(F.col(x_col).cast("long"), cs).alias("o_cx"),
                   bin_floor(F.col(y_col).cast("long"), cs).alias("o_cy"))
         .withColumn("d_cx", F.lead("o_cx").over(w))
         .withColumn("d_cy", F.lead("o_cy").over(w))
         .filter(F.col("d_cx").isNotNull()
                 & ((F.col("o_cx") != F.col("d_cx"))
                    | (F.col("o_cy") != F.col("d_cy")))))
    return (d.groupBy("o_cx", "o_cy", "d_cx", "d_cy")
            .agg(F.count(F.lit(1)).cast("long").alias("n_trips"),
                 F.countDistinct(*[F.col(k) for k in keys]).cast("long")
                 .alias("n_movers")))


def knn_join_2d(probe: DataFrame, build: DataFrame, keys: Sequence[str],
                p_x: str, p_y: str, b_x: str, b_y: str, k: int,
                cell: int, p_id: str = "p_id", b_id: str = "b_id",
                max_rings: int = 8) -> DataFrame:
    """2-D k-nearest-neighbor join — the top-k sibling of radius_join_2d
    and the primitive under geocoding, spatial feature enrichment, and
    store/POI assignment: for every probe point, its k nearest build
    points per key under the TOTAL order (dist², b_id), with dist² the
    exact int64 squared euclidean distance (no float anywhere in the
    decision).  Returns (keys..., p_id, b_id, dist2 long, rnk 1..k).
    A key with fewer than k build points yields all of them; a key with
    no build points yields nothing (resolved immediately, documented).

    Shape (expanding-ring grid search, driver-loop fixpoint — the
    pagerank/k_core/O4 cadence): both sides binned at `cell`; round r
    explodes each UNRESOLVED probe over its (2r+1)² cell box and
    equi-joins on (keys, cx, cy) against the build side's single true
    cell — so candidates are box-bounded, hot keys spread across the
    lattice, and the quadratic per-key self-join never exists.  A probe
    RESOLVES at ring r when its k-th candidate distance satisfies
    d² ≤ (r·cell)² — any point outside the scanned box is strictly
    farther than r·cell (the probe lies somewhere in its center cell,
    so an unscanned cell at Chebyshev cell-distance r+1 starts beyond
    r·cell), hence the seen top-k is the true top-k and even its tie
    order is safe (outside points are STRICTLY farther) — or when it
    has seen its key's whole build population.  Unresolved probes ride
    to ring r+1 (the box is re-scanned from scratch: no carry-over
    state, at the cost of re-finding inner candidates — resolved probes
    leave the loop, so stragglers are few by construction).  Rings
    beyond `max_rings` raise (the resolution guarantee is the caller's
    density contract).

    Envelope ENFORCED: (2·max_rings+1)·cell ≤ 2³⁰, so every candidate
    dist² ≤ 2·((2r+1)·cell)² < 2⁶² stays exact int64.

    100-TB shape: the build side is projected, binned and persisted
    ONCE; each round is one cell equi-join + one per-probe ordered
    window (the exchange carries ids and two longs) + one tiny
    resolved-id anti-join; per-round outputs and the shrinking
    unresolved set are eagerly localCheckpointed so plan depth stays
    O(1) at any ring count.
    """
    if k < 1:
        raise ValueError("knn_join_2d: k must be >= 1")
    if cell <= 0:
        raise ValueError("knn_join_2d: cell must be positive")
    if max_rings < 1:
        raise ValueError("knn_join_2d: max_rings must be >= 1")
    if (2 * max_rings + 1) * cell > (1 << 30):
        raise ValueError(
            f"knn_join_2d: (2*max_rings+1)*cell = "
            f"{(2 * max_rings + 1) * cell} breaches the int64 envelope "
            f"(must be <= 2^30 so dist^2 < 2^62)")
    cs = int(cell)
    keys = list(keys)
    bb = (build.select(*keys, F.col(b_id),
                       F.col(b_x).cast("long").alias("_bx"),
                       F.col(b_y).cast("long").alias("_by"))
          .withColumn("_cx", bin_floor(F.col("_bx"), cs))
          .withColumn("_cy", bin_floor(F.col("_by"), cs))).persist()
    totals = bb.groupBy(*keys).agg(F.count(F.lit(1)).cast("long")
                                   .alias("_nb"))
    # probes whose key has no build rows resolve immediately (emit
    # nothing); the semi join also drops them from the loop
    un = (probe.select(*keys, F.col(p_id),
                       F.col(p_x).cast("long").alias("_px"),
                       F.col(p_y).cast("long").alias("_py"))
          .join(bb.select(*keys).distinct(), keys, "left_semi")
          .localCheckpoint(eager=True))
    outs = []
    try:
        r = 1
        while True:
            if un.isEmpty():
                break
            if r > max_rings:
                n_left = un.count()
                raise ValueError(
                    f"knn_join_2d: {n_left} probes unresolved after "
                    f"{max_rings} rings — raise max_rings or shrink cell")
            cand = explode_neighbours(
                un, [*keys, p_id, "_px", "_py"],
                [bin_floor(F.col("_px"), cs), bin_floor(F.col("_py"), cs)],
                ["_cx", "_cy"], reach=r).join(bb, [*keys, "_cx", "_cy"])
            dx = F.col("_bx") - F.col("_px")
            dy = F.col("_by") - F.col("_py")
            cand = cand.select(*keys, p_id, b_id,
                               (dx * dx + dy * dy).alias("dist2"))
            wo = Window.partitionBy(*keys, p_id).orderBy("dist2", b_id)
            wp = Window.partitionBy(*keys, p_id)
            sc = (cand.withColumn("rnk", F.row_number().over(wo))
                  .withColumn("_cnt", F.count(F.lit(1)).over(wp))
                  .withColumn("_kth", F.max(F.when(
                      F.col("rnk") <= k, F.col("dist2"))).over(wp))
                  .join(totals, keys))
            resolved = ((F.col("_cnt") == F.col("_nb"))
                        | ((F.col("_cnt") >= k)
                           & (F.col("_kth") <= F.lit((r * cs) ** 2))))
            out_r = (sc.filter(resolved & (F.col("rnk") <= k))
                     .select(*keys, p_id, b_id, "dist2",
                             F.col("rnk").cast("long").alias("rnk"))
                     .localCheckpoint(eager=True))
            outs.append(out_r)
            res_ids = out_r.select(*keys, p_id).distinct()
            un = (un.join(res_ids, [*keys, p_id], "left_anti")
                  .localCheckpoint(eager=True))
            r += 1
        if not outs:
            schema = un.select(*keys, p_id).schema
            empty = un.sparkSession.createDataFrame([], schema)
            return (empty.withColumn(b_id, F.lit(None).cast("long"))
                    .withColumn("dist2", F.lit(None).cast("long"))
                    .withColumn("rnk", F.lit(None).cast("long"))
                    .filter(F.lit(False)))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
    finally:
        bb.unpersist()
    return out


def merge_intervals(df: DataFrame, keys: Sequence[str], start_col: str,
                    end_col: str) -> DataFrame:
    """A44 — merge overlapping-or-touching intervals per key (the union
    of a key's time coverage: dedup of overlapping sessions, ad-break
    consolidation, machine-uptime stitching).  Intervals are CLOSED
    integer pairs [start, end]; a row opens a NEW merged group iff its
    start strictly exceeds the running max end of all preceding rows in
    (start, end) order — otherwise it extends the current group.
    Returns (keys..., m_start, m_end, n_src) with m_start = min start,
    m_end = max end, n_src = source-interval count, all exact BIGINTs.

    Determinism under ties: ordering is (start, end); rows equal on both
    are interchangeable (identical flag outcome since start <= end makes
    the second of two equal rows always extend), so the merged set is
    engine-independent — the oracle replays the identical two windows.

    Inverted rows (end < start) are REJECTED with a raise (one driver
    scalar off a combinable agg): a negative-length interval would make
    the running-max rule silently disagree with any sane definition.

    100-TB shape: ONE per-key ordered exchange shared by both window
    passes (same partition+order spec -> one sort), then one combinable
    group agg; only (keys, start, end) ride the exchange.
    """
    s, e = F.col(start_col).cast("long"), F.col(end_col).cast("long")
    require(df, (F.bool_or(e < s), bool,
                 "merge_intervals: inverted interval (end < start) "
                 "present — fix or filter upstream"))
    d = df.select(*keys, s.alias("_s"), e.alias("_e"))
    wprev = (Window.partitionBy(*keys).orderBy("_s", "_e")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy(*keys).orderBy("_s", "_e")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runmax = F.max("_e").over(wprev)
    flag = F.when(runmax.isNull() | (F.col("_s") > runmax), 1).otherwise(0)
    g = d.withColumn("_grp", F.sum(flag).over(wrun))
    return (g.groupBy(*keys, "_grp")
            .agg(F.min("_s").cast("long").alias("m_start"),
                 F.max("_e").cast("long").alias("m_end"),
                 F.count(F.lit(1)).cast("long").alias("n_src"))
            .select(*keys, "m_start", "m_end", "n_src"))


def geo_radius_join(a: DataFrame, b: DataFrame, a_lat: str, a_lon: str,
                    b_lat: str, b_lon: str, r_m: float,
                    a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """J12 — geodesic radius join: all (a, b) pairs within great-circle
    distance r_m meters (haversine), the spherical sibling of
    radius_join_2d and the primitive under geofencing / POI proximity /
    near-site matching.  Returns (a_id, b_id, dist_m double) with dist_m
    the engine's fixed haversine IEEE tree (the X2 op order/clamping the
    oracles replay verbatim).

    Candidate generation is CHORD-SPACE 3-D binning: both sides project
    to the unit sphere (X = cosφcosλ, Y = cosφsinλ, Z = sinφ); a pair
    within arc r has 3-D chord length ≤ c = 2·sin(r / 2R), and binning
    each axis at width 2c guarantees same-or-adjacent bins per axis
    with a full 1-bin safety margin (exact per-axis gap ≤ c = half the
    bin width, so no IEEE boundary case can ever skip a bin).  The
    a-side explodes over its 3×3×3 bin neighborhood while the b-side
    keeps its single true bin — every candidate pair generated EXACTLY
    ONCE (no dedup exchange) ahead of the exact haversine ≤ r filter.
    The bins are ENGINE-INTERNAL: they only gate candidates, so the
    oracle replays the DEFINITION (all-pairs haversine), not the bins,
    and no cross-engine trig agreement is needed for binning — only the
    final haversine tree, which both engines already share.

    Self-join usage (a is b) yields both orientations plus the self
    pair — filter a_id < b_id for unordered pairs.  Hot spots spread
    across the 3-D lattice; fan-out is bounded by 27× bin occupancy,
    never a key's population.

    100-TB shape: one equi-join on three bin longs after a 27× explode
    of the probe side only; no window, no all-pairs, no Python.
    """
    import math as _math

    if not (r_m > 0):
        raise ValueError("geo_radius_join: r_m must be positive")
    R = 6371008.8
    c = 2.0 * _math.sin(min(float(r_m) / (2.0 * R), _math.pi / 2.0))
    w = 2.0 * c  # bin width: 2x the chord bound -> 1-bin safety margin

    def xyz(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
        rlat, rlon = F.radians(lat), F.radians(lon)
        return (F.cos(rlat) * F.cos(rlon), F.cos(rlat) * F.sin(rlon),
                F.sin(rlat))

    def binc(c_: Column) -> Column:
        return F.floor(c_ / F.lit(w)).cast("long")

    ax, ay, az = xyz(F.col(a_lat), F.col(a_lon))
    bx, by, bz = xyz(F.col(b_lat), F.col(b_lon))
    aa = explode_neighbours(
        a, [F.col(a_id), F.col(a_lat).alias("_alat"),
            F.col(a_lon).alias("_alon")],
        [binc(ax), binc(ay), binc(az)], ["_bx", "_by", "_bz"])
    bb = b.select(F.col(b_id), F.col(b_lat).alias("_blat"),
                  F.col(b_lon).alias("_blon"),
                  binc(bx).alias("_bx"), binc(by).alias("_by"),
                  binc(bz).alias("_bz"))
    j = aa.join(bb, ["_bx", "_by", "_bz"])
    from .functions import haversine_m_col
    d = haversine_m_col(F.col("_alat"), F.col("_alon"),
                        F.col("_blat"), F.col("_blon"))
    return (j.select(a_id, b_id, d.alias("dist_m"))
            .filter(F.col("dist_m") <= F.lit(float(r_m))))


def rolling_active_distinct(df: DataFrame, keys: Sequence[str],
                            user_col: str, day_col: str,
                            window_days: int) -> DataFrame:
    """A45 — trailing-window distinct-actor counts (the WAU/MAU step
    function): for each key, the number of distinct users with at least
    one event in the trailing `window_days`-day window, emitted as the
    MINIMAL STEP FUNCTION — one row (keys..., day, n_active) per day
    where the count CHANGES, implicitly constant until the next row,
    including the closing drop (possibly to 0) `window_days` days after
    the last activity.  Exact — no HLL; all BIGINT.

    Shape (the interval-union trick — COUNT(DISTINCT) OVER a sliding
    range never materializes): a user's contribution to day d is "has
    an event in (d - W, d]", i.e. the user covers the day interval
    [day, day + W - 1] for each event day; per (key, user) those
    intervals merge with the merge_intervals runmax rule, each merged
    interval decomposes into a +1 at m_start and a -1 at m_end + 1, and
    the per-key running sum over net-nonzero event days IS the distinct
    count — the count changes exactly at interval endpoints, so the
    emitted set is provably {days where count != previous day's count}.

    100-TB shape: one distinct on (keys, user, day) ~ tens of bytes a
    row, one per-(key, user) ordered pass for the merge, one combinable
    (keys, day) delta agg, then ONE per-key ordered prefix sum whose
    input is endpoint-grained (2 rows per merged interval), not
    row-grained.  No day spine ever explodes; sparse actors cost O(1).
    """
    if window_days < 1:
        raise ValueError("rolling_active_distinct: window_days must be >= 1")
    keys = list(keys)
    d = (df.select(*keys, F.col(user_col).alias("_u"),
                   F.col(day_col).cast("long").alias("_d"))
         .distinct())
    iv = d.select(*keys, "_u", F.col("_d").alias("_s"),
                  (F.col("_d") + F.lit(window_days - 1)).alias("_e"))
    merged = merge_intervals(iv, [*keys, "_u"], "_s", "_e")
    ev = (merged.select(*keys, F.col("m_start").alias("day"),
                        F.lit(1).cast("long").alias("_delta"))
          .unionByName(
              merged.select(*keys, (F.col("m_end") + 1).alias("day"),
                            F.lit(-1).cast("long").alias("_delta"))))
    net = (ev.groupBy(*keys, "day")
           .agg(F.sum("_delta").cast("long").alias("_net"))
           .filter(F.col("_net") != 0))
    w = (Window.partitionBy(*keys).orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (net.withColumn("n_active", F.sum("_net").over(w).cast("long"))
            .select(*keys, F.col("day").cast("long").alias("day"),
                    "n_active"))


def theil_sen_slope(df: DataFrame, keys: Sequence[str], x_col: str,
                    y_col: str, id_col: str,
                    max_points: int = 5000) -> DataFrame:
    """A46 — Theil–Sen robust slope per key: the median of all pairwise
    slopes (y_j - y_i) / (x_j - x_i), the classic 29%-breakdown robust
    trend estimator.  Inputs are exact ints; vertical pairs (equal x)
    are excluded, matching the standard estimator.

    Median CONTRACT (engine-independent, stated so the oracle replays
    it): pairs are generated once each (id_i < id_j), normalized to
    dx > 0 by negating both components when needed, totally ordered by
    (slope_double, dy, dx) — slope_double = dy/dx is ONE IEEE divide,
    bit-identical cross-engine, and the (dy, dx) tiebreak makes the
    order total even when two distinct rationals round to the same
    double (the lower median at rank (m+1)/2 is then well-defined over
    the identical pair multiset both engines build).  Emits
    (keys..., n_pts, n_pairs, med_dy, med_dx, slope) with slope NULL
    when no non-vertical pair exists.

    Envelope ENFORCED with a raise: > max_points rows in any key group
    (the pair fan-out is inherently quadratic — same posture as
    basket_pairs' max-basket bound; at corpus scale, sample per key
    upstream, which preserves the estimator's statistical contract).
    """
    keys = list(keys)
    d = df.select(*keys, F.col(id_col).alias("_i"),
                  F.col(x_col).cast("long").alias("_x"),
                  F.col(y_col).cast("long").alias("_y"))
    stats = d.groupBy(*keys).agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_pts"))
    require(stats, (
        F.max("n_pts"),
        lambda worst: worst > max_points,
        lambda worst: f"theil_sen_slope: a key group has {worst} points "
                      f"(> max_points={max_points}) — the pairwise "
                      f"fan-out is quadratic; sample per key upstream"))
    a = d.select(*keys, F.col("_i").alias("_ia"), F.col("_x").alias("_xa"),
                 F.col("_y").alias("_ya"))
    b = d.select(*keys, F.col("_i").alias("_ib"), F.col("_x").alias("_xb"),
                 F.col("_y").alias("_yb"))
    pr = (a.join(b, keys).filter(F.col("_ia") < F.col("_ib"))
          .select(*keys, (F.col("_xb") - F.col("_xa")).alias("_dx"),
                  (F.col("_yb") - F.col("_ya")).alias("_dy"))
          .filter(F.col("_dx") != 0)
          .select(*keys,
                  F.when(F.col("_dx") < 0, -F.col("_dx"))
                  .otherwise(F.col("_dx")).alias("dx"),
                  F.when(F.col("_dx") < 0, -F.col("_dy"))
                  .otherwise(F.col("_dy")).alias("dy")))
    pr = pr.withColumn(
        "_slope", F.col("dy").cast("double") / F.col("dx").cast("double"))
    wo = Window.partitionBy(*keys).orderBy("_slope", "dy", "dx")
    wp = Window.partitionBy(*keys)
    med = (pr.withColumn("_rn", F.row_number().over(wo))
           .withColumn("_m", F.count(F.lit(1)).over(wp))
           .filter(F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
           .select(*keys, F.col("_m").cast("long").alias("n_pairs"),
                   F.col("dy").cast("long").alias("med_dy"),
                   F.col("dx").cast("long").alias("med_dx"),
                   F.col("_slope").alias("slope")))
    return (stats.join(med, keys, "left")
            .select(*keys, "n_pts",
                    F.coalesce(F.col("n_pairs"), F.lit(0).cast("long"))
                    .alias("n_pairs"),
                    "med_dy", "med_dx", "slope"))


def trip_stats(df: DataFrame, keys: Sequence[str], ts_col: str,
               lat_col: str, lon_col: str, tiebreak: str,
               metric: str = "haversine") -> DataFrame:
    """X14 — per-trace trip statistics: total path length, net
    displacement and straightness for each key's (ts, tiebreak)-ordered
    point trace — the reference pipeline's trip-distance accounting as
    one window + one combinable agg.

    Float-sum portability: a SUM of leg doubles is order-dependent and
    therefore no cross-engine contract, so each leg is one fixed IEEE
    tree, quantized to floor-micrometers (one multiply + one floor,
    both correctly-rounded ops) and summed as an exact BIGINT.
    net_disp_m is a SINGLE leg tree (first point -> last point, both
    selected by the total (ts, tiebreak) order via struct min/max) and
    straightness = net_disp_m / (path_um / 1e6) a two-op fixed tree
    (NULL when the path is empty or zero).  The caller's tiebreak must
    make (ts, tiebreak) unique per key or first/last are ill-defined.

    Two metrics, two PORTABILITY classes (measured, not assumed):
      * metric="euclid" — lat/lon are planar integer x/y; leg =
        sqrt(double(dx^2 + dy^2)).  dist2 is exact int64, int->double
        is exact under the ENFORCED |coord| <= 2^25 envelope
        (dist2 < 2^53), and sqrt/multiply/floor are all correctly
        rounded — every emitted number is bit-identical cross-engine,
        so this mode carries the exact oracle contract.
      * metric="haversine" — true geodesic legs via the engine's X2
        haversine tree.  CAVEAT (measured in this sandbox): JVM
        Math.sin/cos/asin and C libm disagree by 1 ulp on ~2% of
        large-angle arguments, so haversine doubles are NOT a
        cross-engine bit contract at trace scale — this mode is for
        production use and is golden-tested against the numpy twin
        with tolerance, the same float-twin posture as the Gaussian
        KDE outputs.

    Envelope ENFORCED with a raise off the key-sized aggregate:
    max_per_key(n_legs) * max_per_key(leg_um) <= 2^62, so no per-key
    BIGINT sum can wrap (raise means split traces upstream).

    100-TB shape: ONE per-key ordered exchange (the lead window), legs
    never re-shuffled (the agg combines map-side), output is key-sized.
    """
    if metric not in ("haversine", "euclid"):
        raise ValueError("trip_stats: metric must be haversine|euclid")
    keys = list(keys)
    from .functions import haversine_m_col
    d = df.select(*keys, F.col(ts_col).alias("_ts"),
                  F.col(tiebreak).alias("_tb"),
                  F.col(lat_col).alias("_lat"), F.col(lon_col).alias("_lon"))
    if metric == "euclid":
        require(d, (
            F.bool_or(beyond(1 << 25, F.col("_lat").cast("long"),
                             F.col("_lon").cast("long"))), bool,
            "trip_stats: euclid metric needs |coord| <= 2^25 so "
            "dist2 -> double stays exact; rescale upstream"))
        d = d.select(*keys, "_ts", "_tb",
                     F.col("_lat").cast("long").alias("_lat"),
                     F.col("_lon").cast("long").alias("_lon"))

    def leg_tree(lat1, lon1, lat2, lon2):
        if metric == "haversine":
            return haversine_m_col(lat1, lon1, lat2, lon2)
        dx, dy = lat2 - lat1, lon2 - lon1
        return F.sqrt((dx * dx + dy * dy).cast("double"))

    w = Window.partitionBy(*keys).orderBy("_ts", "_tb")
    legs = (d.withColumn("_nlat", F.lead("_lat").over(w))
            .withColumn("_nlon", F.lead("_lon").over(w)))
    leg_m = leg_tree(F.col("_lat"), F.col("_lon"),
                     F.col("_nlat"), F.col("_nlon"))
    leg_um = F.when(F.col("_nlat").isNotNull(),
                    F.floor(leg_m * F.lit(1000000.0)).cast("long"))
    agg = (legs.withColumn("_leg_um", leg_um)
           .groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                F.count("_leg_um").cast("long").alias("n_legs"),
                # decimal: a long sum could overflow under ANSI while
                # the check below materialises the persisted agg
                F.coalesce(F.sum(wide("_leg_um")), F.lit(0))
                .alias("path_um"),
                F.max("_leg_um").alias("_max_leg"),
                F.min(F.struct("_ts", "_tb", "_lat", "_lon")).alias("_f"),
                F.max(F.struct("_ts", "_tb", "_lat", "_lon")).alias("_l")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max(wide("n_legs") * F.col("_max_leg")),
            lambda worst: worst > (1 << 62),
            "trip_stats: n_legs * max_leg_um exceeds 2^62 for some "
            "key — the exact BIGINT path sum could wrap; split "
            "traces upstream"))
        net = leg_tree(F.col("_f._lat"), F.col("_f._lon"),
                       F.col("_l._lat"), F.col("_l._lon"))
        out = (agg.withColumn("path_um", F.col("path_um").cast("long"))
               .withColumn("net_disp_m", F.when(F.col("n_legs") > 0, net))
               .withColumn(
                   "straightness",
                   F.when(F.col("path_um") > 0,
                          F.col("net_disp_m")
                          / (F.col("path_um").cast("double")
                             / F.lit(1000000.0))))
               .select(*keys, "n_points", "n_legs", "path_um",
                       "net_disp_m", "straightness"))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def bbox_overlap_join(a: DataFrame, b: DataFrame, keys: Sequence[str],
                      a_box: Sequence[str], b_box: Sequence[str],
                      cell: int, a_id: str = "a_id", b_id: str = "b_id",
                      max_cells: int = 4096,
                      carry_a: Sequence[str] = (),
                      carry_b: Sequence[str] = ()) -> DataFrame:
    """J13 — 2-D rectangle (bounding-box) overlap join: all (a, b)
    pairs whose CLOSED integer boxes intersect — the spatial-index
    primitive under every geometry join (the filter step of the classic
    filter-refine pipeline; segment_intersect_join builds its refine on
    top).  a_box / b_box name (x1, y1, x2, y2) with x1 <= x2, y1 <= y2
    ENFORCED (inverted boxes raise — J3's binned join taught us that
    degenerate inputs silently diverge otherwise).  Emits
    (keys..., a_id, b_id, ix1, iy1, ix2, iy2) — the exact intersection
    box, all BIGINT.

    Exactly-once generation with NO dedup exchange (the 2-D lift of
    interval_overlap_join_binned's canonical-bin trick): each box
    explodes over the grid cells it covers, pairs equi-join on
    (keys, cx, cy), and a pair is kept ONLY in the canonical cell —
    the cell of the intersection's lower-left corner
    (max(ax1, bx1), max(ay1, by1)), provably covered by BOTH boxes
    whenever they intersect, and unique.  Per-key work collapses from
    |a_k| x |b_k| to the per-cell products; skew spreads across the
    lattice.

    Envelope ENFORCED with a raise: a box may cover at most max_cells
    grid cells (fan-out bound — pick `cell` near the typical box size;
    a raise means coarsen the grid or split giant boxes upstream).
    carry_a / carry_b name extra columns to ride through the join
    (must not collide across sides) — segment_intersect_join carries
    its endpoints this way instead of paying two join-backs.

    100-TB shape: one equi-join on (keys, cx, cy) after bounded
    explodes; the overlap test and canonical filter are map-side; no
    window, no distinct, no Python.
    """
    if cell <= 0:
        raise ValueError("bbox_overlap_join: cell must be positive")
    keys = list(keys)
    cs = int(cell)

    def prep(df: DataFrame, box: Sequence[str], ident: str,
             px: str, carry: Sequence[str]) -> DataFrame:
        x1, y1, x2, y2 = (F.col(c).cast("long") for c in box)
        d = df.select(*keys, F.col(ident), *[F.col(c) for c in carry],
                      x1.alias(f"{px}x1"), y1.alias(f"{px}y1"),
                      x2.alias(f"{px}x2"), y2.alias(f"{px}y2"))
        inv = ((F.col(f"{px}x2") < F.col(f"{px}x1"))
               | (F.col(f"{px}y2") < F.col(f"{px}y1")))
        lo = [bin_floor(F.col(f"{px}{c}1"), cs) for c in "xy"]
        hi = [bin_floor(F.col(f"{px}{c}2"), cs) for c in "xy"]
        require(d, (F.bool_or(inv), bool,
                    "bbox_overlap_join: inverted box (x2 < x1 or y2 < y1) "
                    "present — fix or filter upstream"), (
            F.max(box_cell_count(lo, hi, max_cells)),
            lambda worst: worst > max_cells,
            f"bbox_overlap_join: a box covers more than "
            f"max_cells={max_cells} grid cells — coarsen `cell` or "
            f"split giant boxes upstream"))
        return explode_box(d, ("_cx", "_cy"), lo, hi)

    aa = prep(a, a_box, a_id, "_a", carry_a)
    bb = prep(b, b_box, b_id, "_b", carry_b)
    ix1 = F.greatest("_ax1", "_bx1")
    iy1 = F.greatest("_ay1", "_by1")
    j = (aa.join(bb, [*keys, "_cx", "_cy"])
         .filter((F.col("_ax1") <= F.col("_bx2"))
                 & (F.col("_bx1") <= F.col("_ax2"))
                 & (F.col("_ay1") <= F.col("_by2"))
                 & (F.col("_by1") <= F.col("_ay2")))
         .filter((F.col("_cx") == bin_floor(ix1, cs))
                 & (F.col("_cy") == bin_floor(iy1, cs))))
    return j.select(*keys, a_id, b_id,
                    *[F.col(c) for c in (*carry_a, *carry_b)],
                    ix1.alias("ix1"), iy1.alias("iy1"),
                    F.least("_ax2", "_bx2").alias("ix2"),
                    F.least("_ay2", "_by2").alias("iy2"))


def segment_intersect_join(a: DataFrame, b: DataFrame,
                           keys: Sequence[str],
                           a_seg: Sequence[str], b_seg: Sequence[str],
                           cell: int, a_id: str = "a_id",
                           b_id: str = "b_id",
                           max_cells: int = 4096) -> DataFrame:
    """J14 — segment intersection join: all (a, b) pairs of CLOSED
    integer line segments that share at least one point — the
    computational-geometry core of road-network conflation, trajectory
    crossing detection and polygon overlay.  a_seg / b_seg name the
    endpoints (x1, y1, x2, y2) — NOT required to be ordered.

    The decision is EXACT integer arithmetic only (the robust
    orientation predicate, CLRS 33.1): with d1 = cross(CD, A),
    d2 = cross(CD, B), d3 = cross(AB, C), d4 = cross(AB, D), segments
    properly intersect iff d1·d2 < 0 and d3·d4 < 0; endpoint/collinear
    touches are caught by the di == 0 on-segment (bounding-box) tests.
    Under the ENFORCED |coord| <= 2^30 envelope every cross product is
    a provable int64, so the decision is bit-portable and the oracle
    replays the identical predicate over the by-definition all-pairs
    join.  Emits (keys..., a_id, b_id, proper boolean).

    Shape: filter-refine — bbox_overlap_join's canonical-cell grid
    (exactly-once candidates, no dedup exchange, skew spread across the
    lattice) generates candidates from the segments' bounding boxes;
    the exact predicate refines map-side.  Same max_cells fan-out
    envelope as the bbox join.
    """
    keys = list(keys)

    def prep(df: DataFrame, seg: Sequence[str], ident: str,
             px: str) -> DataFrame:
        x1, y1, x2, y2 = (F.col(c).cast("long") for c in seg)
        require(df, (F.bool_or(beyond(1 << 30, x1, y1, x2, y2)), bool,
                     "segment_intersect_join: |coordinate| exceeds 2^30 — "
                     "cross products could overflow int64; rescale "
                     "upstream"))
        return df.select(
            *keys, F.col(ident),
            x1.alias(f"{px}ex1"), y1.alias(f"{px}ey1"),
            x2.alias(f"{px}ex2"), y2.alias(f"{px}ey2"),
            F.least(x1, x2).alias(f"{px}bx1"),
            F.least(y1, y2).alias(f"{px}by1"),
            F.greatest(x1, x2).alias(f"{px}bx2"),
            F.greatest(y1, y2).alias(f"{px}by2"))

    aa = prep(a, a_seg, a_id, "_a")
    bb = prep(b, b_seg, b_id, "_b")
    cand = bbox_overlap_join(
        aa, bb, keys, ("_abx1", "_aby1", "_abx2", "_aby2"),
        ("_bbx1", "_bby1", "_bbx2", "_bby2"), cell,
        a_id=a_id, b_id=b_id, max_cells=max_cells,
        carry_a=("_aex1", "_aey1", "_aex2", "_aey2"),
        carry_b=("_bex1", "_bey1", "_bex2", "_bey2"))

    def cross(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    ax1, ay1 = F.col("_aex1"), F.col("_aey1")
    ax2, ay2 = F.col("_aex2"), F.col("_aey2")
    bx1, by1 = F.col("_bex1"), F.col("_bey1")
    bx2, by2 = F.col("_bex2"), F.col("_bey2")
    d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
    d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)

    def on_seg(d, sx1, sy1, sx2, sy2, px_, py_):
        return ((d == 0)
                & (px_ >= F.least(sx1, sx2)) & (px_ <= F.greatest(sx1, sx2))
                & (py_ >= F.least(sy1, sy2)) & (py_ <= F.greatest(sy1, sy2)))

    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) \
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    touch = (on_seg(d1, bx1, by1, bx2, by2, ax1, ay1)
             | on_seg(d2, bx1, by1, bx2, by2, ax2, ay2)
             | on_seg(d3, ax1, ay1, ax2, ay2, bx1, by1)
             | on_seg(d4, ax1, ay1, ax2, ay2, bx2, by2))
    return (cand.withColumn("_d1", d1).withColumn("_d2", d2)
            .withColumn("_d3", d3).withColumn("_d4", d4)
            .withColumn("proper", proper)
            .filter(proper | touch)
            .select(*keys, a_id, b_id, "proper"))


def rect_union_area(df: DataFrame, keys: Sequence[str],
                    box: Sequence[str] = ("x1", "y1", "x2", "y2"),
                    max_rects: int = 100_000) -> DataFrame:
    """A47 — exact area of the UNION of axis-aligned rectangles per key
    (coverage-footprint measurement: how much ground do a key's
    half-open [x1, x2) x [y1, y2) boxes actually cover, overlaps
    counted once) — the classic sweep-line union stated relationally.
    Returns (keys..., n_rects, union_area) with union_area an exact
    BIGINT; zero-width/height boxes contribute nothing; inverted boxes
    (x2 < x1 or y2 < y1) are REJECTED with a raise, as is any
    |coordinate| > 2^30 (union area <= bounding area < 2^62 stays a
    provable int64).

    Shape (strip decomposition — every stage a native join/window/agg):
    the distinct x edges of a key's boxes cut the plane into vertical
    strips; within one strip the covered y-extent is constant, so
    union_area = sum over strips of strip_width * y_coverage(strip).
    A box is active in a strip iff its x-range contains it (a J3
    interval join: box x-interval vs strip, equi on keys), and the
    strip's y-coverage is one merge_intervals pass (A44's runmax rule)
    over the active boxes' y-intervals — all exact BIGINT.

    Cost contract ENFORCED with a raise: > max_rects boxes in a key
    group.  The strip-x-active surface is inherently Omega(n^2) in the
    worst case (n overlapping boxes -> 2n strips x n active); this
    operator is the exact small-key tool — for corpus-scale coverage,
    rasterize to cells (X6/tiles) and count, trading exactness for
    linearity.

    100-TB shape note: strips and actives join via the binned interval
    path when keys are few and fat; here the plain keyed join is used
    because max_rects bounds the quadratic surface explicitly.
    """
    keys = list(keys)
    x1, y1, x2, y2 = (F.col(c).cast("long") for c in box)
    d = df.select(*keys, x1.alias("_x1"), y1.alias("_y1"),
                  x2.alias("_x2"), y2.alias("_y2"))
    badrow = ((F.col("_x2") < F.col("_x1")) | (F.col("_y2") < F.col("_y1"))
              | beyond(1 << 30, *(F.col(c) for c in
                                  ("_x1", "_y1", "_x2", "_y2"))))
    stats = (d.groupBy(*keys)
             .agg(F.count(F.lit(1)).cast("long").alias("n_rects"),
                  F.bool_or(badrow).alias("_b")))
    require(stats, (
        F.bool_or("_b"), bool,
        "rect_union_area: inverted box or |coord| > 2^30 present — "
        "the union area must stay a provable int64; fix upstream"), (
        F.max("n_rects"),
        lambda worst: worst > max_rects,
        lambda worst: f"rect_union_area: a key group has {worst} boxes "
                      f"(> max_rects={max_rects}) — the strip sweep is "
                      f"quadratic in the worst case; rasterize instead "
                      f"at this scale"))
    stats = stats.select(*keys, "n_rects")
    # drop degenerate (empty) boxes: they add no area and no strips
    live = d.filter((F.col("_x2") > F.col("_x1"))
                    & (F.col("_y2") > F.col("_y1")))
    edges = (live.select(*keys, F.col("_x1").alias("_sx"))
             .unionByName(live.select(*keys, F.col("_x2").alias("_sx")))
             .distinct())
    wnext = Window.partitionBy(*keys).orderBy("_sx")
    strips = (edges.withColumn("_sxn", F.lead("_sx").over(wnext))
              .filter(F.col("_sxn").isNotNull()))
    active = strips.join(live, keys).filter(
        (F.col("_x1") <= F.col("_sx")) & (F.col("_x2") >= F.col("_sxn")))
    cov = merge_intervals(
        active.select(*keys, "_sx", "_sxn", F.col("_y1").alias("_s"),
                      (F.col("_y2") - 1).alias("_ee")),
        [*keys, "_sx", "_sxn"], "_s", "_ee")
    per_strip = (cov.groupBy(*keys, "_sx", "_sxn")
                 .agg(F.sum(F.col("m_end") + 1 - F.col("m_start"))
                      .alias("_ylen"))
                 .withColumn("_area",
                             (F.col("_sxn") - F.col("_sx"))
                             * F.col("_ylen")))
    area = (per_strip.groupBy(*keys)
            .agg(F.sum("_area").cast("long").alias("union_area")))
    return (stats.join(area, keys, "left")
            .select(*keys, "n_rects",
                    F.coalesce(F.col("union_area"), F.lit(0).cast("long"))
                    .alias("union_area")))


def comovement_pairs(df: DataFrame, id_col: str, t_col: str,
                     x_col: str, y_col: str, radius: int,
                     min_steps: int) -> DataFrame:
    """X17 — co-movement (flock/convoy) pair detection: all mover pairs
    that stay within euclidean `radius` for at least `min_steps`
    CONSECUTIVE time buckets — the trajectory-mining primitive under
    convoy discovery, contact tracing and ride-sharing detection.
    Emits one row per maximal qualifying run:
    (a_id, b_id, t_start, t_end, n_steps), a < b, all exact BIGINTs.

    Input contract ENFORCED with a raise: exactly one position per
    (id, t) — duplicate fixes would double-emit pairs and make run
    lengths ill-defined.  Gaps break runs (present at t and t+2 but
    not t+1 yields two runs); the proximity decision is the exact
    int64 dist² <= radius² filter, so the output is bit-portable.

    Shape: per-bucket proximity via radius_join_2d with t riding as a
    join key — the banding rewrite spreads each bucket across the grid
    lattice (never a per-bucket quadratic self-join) and buckets never
    compare against each other; then one per-pair ordered pass turns
    bucket hits into maximal consecutive runs with the gaps-and-islands
    rule (t - row_number() is constant exactly on consecutive runs),
    and one combinable agg emits (min t, max t, count).

    100-TB shape: the radius join's exchange carries (t, cell) keys —
    time-sliced AND space-sliced, so hot buckets and hot cells both
    spread; the run pass exchanges only (a, b, t) triples.
    """
    if min_steps < 1:
        raise ValueError("comovement_pairs: min_steps must be >= 1")
    d = df.select(F.col(id_col).cast("long").alias("_id"),
                  F.col(t_col).cast("long").alias("_t"),
                  F.col(x_col).cast("long").alias("_x"),
                  F.col(y_col).cast("long").alias("_y"))
    require(d.groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_n")), (
        F.max("_n"), lambda dup: dup > 1,
        "comovement_pairs: multiple positions for one (id, t) — "
        "dedup or re-bucket upstream"))
    a = d.select(F.col("_t"), F.col("_id").alias("a_id"),
                 F.col("_x").alias("ax"), F.col("_y").alias("ay"))
    b = d.select(F.col("_t"), F.col("_id").alias("b_id"),
                 F.col("_x").alias("bx"), F.col("_y").alias("by"))
    hits = (radius_join_2d(a, b, ["_t"], "ax", "ay", "bx", "by", radius,
                           a_id="a_id", b_id="b_id")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", "_t"))
    wrn = Window.partitionBy("a_id", "b_id").orderBy("_t")
    runs = hits.withColumn(
        "_grp", F.col("_t") - F.row_number().over(wrn))
    return (runs.groupBy("a_id", "b_id", "_grp")
            .agg(F.min("_t").alias("t_start"),
                 F.max("_t").alias("t_end"),
                 F.count(F.lit(1)).cast("long").alias("n_steps"))
            .filter(F.col("n_steps") >= min_steps)
            .select("a_id", "b_id", "t_start", "t_end", "n_steps"))


def emerging_hotspots(df: DataFrame, x_col: str, y_col: str,
                      recent_col: str, cell: int,
                      min_count: int = 5) -> DataFrame:
    """X18 — emerging-hotspot detection: per occupied grid cell, is the
    cell's SHARE of activity significantly different in the recent
    window than in the baseline window?  The temporal sibling of the
    Gi* hotspot test (X12): counts fold to cells map-side, the two
    window totals ride back as driver-scalar literals, and the
    two-proportion pooled z (the A33 tree) is evaluated map-only over
    exact BIGINT evidence — emitted per cell alongside that evidence
    (n_recent, n_base), cells below min_count total suppressed.

    z is ONE fixed IEEE tree over exact ints (divides / multiplies /
    one sqrt — all correctly rounded, bit-portable); every divisor is
    clamped with greatest(., 1) BEFORE the guard-taken branch because
    Spark ANSI mode raises DIVIDE_BY_ZERO even inside un-taken when()
    branches once CSE hoists the division (the 2d5cc09 hazard) — the
    clamp is the identity on every row the guards admit.  z is NULL
    when either window is empty or the pooled variance vanishes.

    100-TB shape: ONE combinable (cell, window) count agg; the z pass
    is map-only with N_r / N_b as literals; nothing else shuffles.
    """
    if cell <= 0:
        raise ValueError("emerging_hotspots: cell must be positive")
    if min_count < 1:
        raise ValueError("emerging_hotspots: min_count must be >= 1")
    cs = int(cell)
    d = df.select(
        bin_floor(F.col(x_col).cast("long"), cs).alias("cx"),
        bin_floor(F.col(y_col).cast("long"), cs).alias("cy"),
        F.when(F.col(recent_col), 1).otherwise(0).alias("_r"))
    per = (d.groupBy("cx", "cy")
           .agg(F.sum("_r").cast("long").alias("n_recent"),
                F.sum(F.lit(1) - F.col("_r")).cast("long")
                .alias("n_base")))
    tot = per.agg(F.sum("n_recent"), F.sum("n_base")).collect()[0]
    n_r, n_b = int(tot[0] or 0), int(tot[1] or 0)
    per = per.filter(F.col("n_recent") + F.col("n_base") >= min_count)
    if n_r == 0 or n_b == 0:
        return per.select("cx", "cy", "n_recent", "n_base",
                          F.lit(None).cast("double").alias("z"))
    dbl = lambda c: c.cast("double")  # noqa: E731
    p_r = dbl(F.col("n_recent")) / F.lit(float(n_r))
    p_b = dbl(F.col("n_base")) / F.lit(float(n_b))
    p = dbl(F.col("n_recent") + F.col("n_base")) / F.lit(float(n_r + n_b))
    var = p * (F.lit(1.0) - p) * F.lit(1.0 / n_r + 1.0 / n_b)
    z = F.when(var > 0, (p_r - p_b) / F.sqrt(var))
    return per.select("cx", "cy", "n_recent", "n_base", z.alias("z"))


def simplify_vw_rounds(df: DataFrame, keys: Sequence[str], seq_col: str,
                       x_col: str, y_col: str, rounds: int,
                       max_2area: int) -> DataFrame:
    """X19 — Visvalingam–Whyatt polyline simplification as a fixed-round
    driver loop: each round removes, per key, THE single interior
    vertex with the smallest effective-triangle doubled area (its
    lag/lead neighbors' shoelace cross product, exact int64, abs) —
    provided that area is <= max_2area; endpoints never leave, and a
    key with no qualifying vertex is converged and rides unchanged.
    Ties break on (2area, seq) — a total order, so each round's removal
    is engine-independent, and the <=R-removals result is a
    well-defined quantity the chained-CTE oracle replays round-for-
    round EXACTLY even before convergence (the O4/kmeans/pagerank
    fixed-round contract).  Returns the surviving (keys..., seq, x, y).

    X19 complements X10/simplify_radial (distance-threshold, one pass):
    VW is the quality-ranked simplifier cartographers use — it removes
    the LEAST-important vertex first, so a budgeted `rounds` yields the
    best R-vertex reduction under the triangle-area importance measure.

    Envelopes ENFORCED with a raise: |coord| <= 2^30 (cross products
    provable int64), duplicate (key, seq) rows rejected (neighbor
    relations would be ill-defined).

    100-TB shape: each round is ONE per-key ordered exchange shared by
    the lag/lead pass and the removal-rank window (same partition
    spec); per-round outputs are eagerly localCheckpointed so plan
    depth stays O(1) in `rounds` (the established driver-loop cadence).
    """
    if rounds < 1:
        raise ValueError("simplify_vw_rounds: rounds must be >= 1")
    if max_2area < 0:
        raise ValueError("simplify_vw_rounds: max_2area must be >= 0")
    keys = list(keys)
    d = df.select(*keys, F.col(seq_col).cast("long").alias("_seq"),
                  F.col(x_col).cast("long").alias("_x"),
                  F.col(y_col).cast("long").alias("_y"))
    seqs = (d.groupBy(*keys, "_seq")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.bool_or(beyond(1 << 30, F.col("_x"), F.col("_y")))
                 .alias("_b")))
    require(seqs, (F.bool_or("_b"), bool,
                   "simplify_vw_rounds: |coordinate| exceeds 2^30 — "
                   "outside the exact cross-product envelope; rescale "
                   "upstream"), (
        F.max("_n"), lambda dup: dup > 1,
        "simplify_vw_rounds: duplicate (key, seq) rows — neighbor "
        "relations are ill-defined; dedup upstream"))
    cur = d.localCheckpoint(eager=True)
    for _ in range(rounds):
        wo = Window.partitionBy(*keys).orderBy("_seq")
        px, py = F.lag("_x").over(wo), F.lag("_y").over(wo)
        nx, ny = F.lead("_x").over(wo), F.lead("_y").over(wo)
        a2 = F.abs((F.col("_x") - px) * (ny - py)
                   - (F.col("_y") - py) * (nx - px))
        cand = (px.isNotNull() & nx.isNotNull()
                & (a2 <= F.lit(int(max_2area))))
        t = (cur.withColumn("_cand", cand)
             .withColumn("_a2", F.when(cand, a2)))
        wr = Window.partitionBy(*keys).orderBy(
            F.col("_cand").desc(), F.col("_a2").asc_nulls_last(), "_seq")
        t = t.withColumn("_rn", F.row_number().over(wr))
        cur = (t.filter(~(F.col("_cand") & (F.col("_rn") == 1)))
               .select(*keys, "_seq", "_x", "_y")
               .localCheckpoint(eager=True))
    return cur.select(*keys, F.col("_seq").alias("seq"),
                      F.col("_x").alias("x"), F.col("_y").alias("y"))


def st_radius_join(a: DataFrame, b: DataFrame, keys: Sequence[str],
                   a_cols: Sequence[str], b_cols: Sequence[str],
                   radius: int, t_band: int,
                   a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """J15 — spatiotemporal proximity join: all (a, b) pairs within
    euclidean `radius` in space AND within `t_band` in time — the
    primitive under contact tracing, near-miss detection and
    spatiotemporal co-occurrence.  a_cols / b_cols name (x, y, t).
    Emits (keys..., a_id, b_id, dist2, dt) with dist2 the exact int64
    squared distance and dt = b.t - a.t (signed, exact).

    Candidate generation is the J10 banding rewrite lifted to 3-D:
    x/y binned at `radius`, t binned at `t_band`, the probe side
    exploded over its 3x3x3 bin neighborhood while the build side
    keeps its single true bin — every within-range pair lands in
    same-or-adjacent bins on every axis, so each candidate pair is
    generated EXACTLY ONCE ahead of the exact filters (no dedup
    exchange).  Hot cells AND hot time buckets both spread across the
    3-D lattice.

    Envelope ENFORCED: 8·radius² < 2⁶² (radius <= 2²⁹, the J10 bound —
    candidates are bin-bounded so |dx|, |dy| <= 2·radius) and t_band
    >= 1.
    """
    if not (0 < radius <= (1 << 29)):
        raise ValueError(
            "st_radius_join: radius must be in (0, 2^29] so dist2 "
            "stays a provable int64")
    if t_band < 1:
        raise ValueError("st_radius_join: t_band must be >= 1")
    keys = list(keys)
    r, tb = int(radius), int(t_band)
    ax, ay, at_ = (F.col(c).cast("long") for c in a_cols)
    bx, by, bt = (F.col(c).cast("long") for c in b_cols)
    aa = explode_neighbours(
        a, [*keys, F.col(a_id), ax.alias("_ax"), ay.alias("_ay"),
            at_.alias("_at")],
        [bin_floor(ax, r), bin_floor(ay, r), bin_floor(at_, tb)],
        ["_gx", "_gy", "_gt"])
    bb = b.select(*keys, F.col(b_id), bx.alias("_bx"), by.alias("_by"),
                  bt.alias("_bt"), bin_floor(bx, r).alias("_gx"),
                  bin_floor(by, r).alias("_gy"),
                  bin_floor(bt, tb).alias("_gt"))
    dx = F.col("_bx") - F.col("_ax")
    dy = F.col("_by") - F.col("_ay")
    dt = F.col("_bt") - F.col("_at")
    return (aa.join(bb, [*keys, "_gx", "_gy", "_gt"])
            .withColumn("dist2", dx * dx + dy * dy)
            .withColumn("dt", dt)
            .filter((F.col("dist2") <= F.lit(r * r))
                    & (F.abs(F.col("dt")) <= F.lit(tb)))
            .select(*keys, a_id, b_id, "dist2", "dt"))


def knn_join_bounded(a: DataFrame, b: DataFrame, keys: Sequence[str],
                     a_x: str, a_y: str, b_x: str, b_y: str,
                     r: int, k: int,
                     a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """J16 — bounded k-nearest-neighbor join: for every a-row, its k
    nearest b-rows AMONG THOSE WITHIN euclidean `r`, ranked under the
    total (dist2, b_id) order so ties at equal distance are
    deterministic.  The radius bound is what makes the op relational
    (and what every practical kNN deployment uses anyway — an unbounded
    kNN over a sharded corpus needs ring-expansion retries; a bounded
    one is one candidate join): candidates come from radius_join_2d's
    grid banding (each pair generated exactly once, exact int64 dist²
    decision), then one per-a-row rank window keeps k.  A-rows with no
    b within `r` emit nothing — the caller distinguishes "no neighbor"
    from "k found" by the row count per a_id.

    100-TB shape: the rank exchange carries only (keys, a_id, b_id,
    dist2) — never the payloads; k and r bound the output to k rows
    per a-row.  Envelope: radius_join_2d's r <= 2^29 bound is
    inherited; k >= 1 enforced.
    """
    if k < 1:
        raise ValueError("knn_join_bounded: k must be >= 1")
    keys = list(keys)
    cand = radius_join_2d(a, b, keys, a_x, a_y, b_x, b_y, r,
                          a_id=a_id, b_id=b_id)
    w = Window.partitionBy(*keys, a_id).orderBy(
        F.col("dist2").asc(), F.col(b_id).asc())
    return (cand.select(*keys, a_id, b_id, "dist2")
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= F.lit(int(k))))


def skyline_min_rows(df: DataFrame, keys: Sequence[str],
                     x_col: str, y_col: str) -> DataFrame:
    """A45 — ROW-preserving 2-D skyline (Pareto frontier), minimizing
    BOTH axes — the selection-shaped complement of skyline_2d (which
    MAXIMIZES and collapses to the coordinate-grain staircase): keep
    the rows no other same-key row STRICTLY dominates (q dominates p
    iff q.x <= p.x AND q.y <= p.y with at least one strict).  Exact
    duplicates of a frontier point all survive (neither dominates the
    other); every decision is exact integer comparison, so output is
    bit-portable and the oracle can restate the NOT EXISTS definition
    with zero shared structure.

    Shape — the sort-based one-pass rewrite, NOT the quadratic
    self-join: after one per-key sort by x, a row survives iff
      (1) min y over x' <  x  is NULL or > y   (no dominator left of it)
      (2) min y over x' <= x  equals y         (no same-x dominator)
    both of which are ONE Window op (same partition, same sort, two
    RANGE frames differing only in upper bound -1 vs 0), i.e. a single
    ordered exchange regardless of key size, with all carried columns
    riding untouched.
    """
    keys = list(keys)
    d = (df.withColumn("_sx", F.col(x_col).cast("long"))
         .withColumn("_sy", F.col(y_col).cast("long")))
    base = Window.partitionBy(*keys).orderBy("_sx")
    w_excl = base.rangeBetween(Window.unboundedPreceding, -1)
    w_incl = base.rangeBetween(Window.unboundedPreceding, 0)
    return (d.withColumn("_me", F.min("_sy").over(w_excl))
            .withColumn("_mi", F.min("_sy").over(w_incl))
            .filter((F.col("_me").isNull()
                     | (F.col("_me") > F.col("_sy")))
                    & (F.col("_sy") == F.col("_mi")))
            .drop("_me", "_mi", "_sx", "_sy"))


def geofence_visits(points: DataFrame, fences: DataFrame,
                    user_col: str, order: Sequence[str],
                    x_col: str, y_col: str, ts_col: str,
                    fence_id: str = "fence_id", cx_col: str = "cx",
                    cy_col: str = "cy", r_col: str = "r") -> DataFrame:
    """G5 — geofence visit extraction: for each (user, circular fence)
    pair, the maximal runs of CONSECUTIVE trace points inside the
    fence (exact int64 dist² <= r² decision), emitted as one visit row
    (enter_ts, exit_ts, n_points) per run — the enter/exit event
    stream every location-analytics product derives.  "Consecutive"
    means adjacent in the user's FULL trace under `order`'s total
    order, so a single outside ping splits a visit (callers wanting
    gap tolerance smooth upstream).

    Shape: per-user seq is assigned BEFORE any fence logic (one
    ordered exchange); fences are a broadcast dim exploded over the
    <= 9 grid cells of width C = max fence radius that their bounding
    box can cover (2r <= 2C spans at most 3 cells per axis), so the
    candidate pass is a map-side equi-join on the point's single true
    cell and the corpus never shuffles for it; inside-hits compress to
    visits with the gaps-and-islands rule (seq - row_number constant
    exactly on consecutive runs) — one more keyed exchange carrying
    only hit rows.  Fence radii must be >= 1 (raise), r <= 2^29 keeps
    dist² a provable int64; C is a driver scalar off the tiny fence
    table.
    """
    fcells, cw = fence_cells(fences, fence_id, cx_col, cy_col, r_col,
                             "geofence_visits")
    seqw = Window.partitionBy(user_col).orderBy(*order)
    pts = (points.withColumn("_seq", F.row_number().over(seqw)
                             .cast("long"))
           .withColumn("_px", F.col(x_col).cast("long"))
           .withColumn("_py", F.col(y_col).cast("long"))
           .withColumn("_gx", bin_floor(F.col("_px"), cw))
           .withColumn("_gy", bin_floor(F.col("_py"), cw)))
    dx = F.col("_px") - F.col("_cx")
    dy = F.col("_py") - F.col("_cy")
    hits = (pts.join(F.broadcast(fcells), ["_gx", "_gy"])
            .filter(dx * dx + dy * dy <= F.col("_r") * F.col("_r"))
            .select(user_col, "_fid", "_seq", ts_col))
    runw = Window.partitionBy(user_col, "_fid").orderBy("_seq")
    isl = F.col("_seq") - F.row_number().over(runw)
    return (hits.withColumn("_isl", isl)
            .groupBy(user_col, "_fid", "_isl")
            .agg(F.min(ts_col).alias("enter_ts"),
                 F.max(ts_col).alias("exit_ts"),
                 F.count(F.lit(1)).cast("long").alias("n_points"))
            .select(F.col(user_col), F.col("_fid").alias(fence_id),
                    "enter_ts", "exit_ts", "n_points"))


def idw_quantized(targets: DataFrame, sources: DataFrame,
                  keys: Sequence[str], t_x: str, t_y: str,
                  s_x: str, s_y: str, val_col: str, r: int,
                  t_id: str = "t_id", s_id: str = "s_id",
                  w_bits: int = 20,
                  max_neighbors: int = 1024) -> DataFrame:
    """A46 — inverse-distance-weighted interpolation, fully exact: for
    every target point, predict a value from the sources within
    euclidean `r` with weight w = 2^w_bits div (1 + dist²) and
    idw_q = sum(w·v) div sum(w) — the classic IDW surface with the
    weight QUANTIZED to an exact int64 so every intermediate (weight,
    products, both sums, the final division) is provably exact integer
    arithmetic and the output hashes identically cross-engine (float
    IDW's sum order is engine-dependent; this is the same quantized-
    twin posture as the KDE quant mode).  Targets with no source in
    range emit NULL idw_q with n_src = 0.

    Envelope, all ENFORCED: 1 + r² <= 2^w_bits so every in-range
    weight is >= 1 (sum(w) > 0 — the division is total); source
    values integer in [0, 2^31) so w·v <= 2^(w_bits+31); per-target
    neighbor count <= max_neighbors <= 2^(62-w_bits-31) so the sums
    cannot wrap — checked off the key-sized agg with a raise, the
    trip_stats wrap-guard cadence.

    100-TB shape: one radius_join_2d candidate pass (grid banding,
    exact-once pairs, the value riding as a carry_b column so there
    is NO id-keyed join-back), one map-side-combinable agg keyed on
    the target id, one left join back to targets to keep empty ones;
    the sources table never shuffles beyond the banding exchange.
    """
    if not (0 < r and (1 + r * r) <= (1 << w_bits)):
        raise ValueError(
            f"idw_quantized: need 1 + r² <= 2^{w_bits} so every "
            f"in-range weight is >= 1 (r={r})")
    cap = 1 << (62 - w_bits - 31)
    if not (1 <= max_neighbors <= cap):
        raise ValueError(
            f"idw_quantized: max_neighbors must be in [1, {cap}] so "
            f"sum(w·v) stays a provable int64")
    keys = list(keys)
    src = sources.withColumn("_v", F.col(val_col).cast("long"))
    vmsg = ("idw_quantized: source values must be integers in "
            "[0, 2^31) for the exact-sum envelope")
    require(src, (F.min("_v"), lambda lo: lo < 0, vmsg),
            (F.max("_v"), lambda hi: hi >= (1 << 31), vmsg))
    cand = radius_join_2d(targets, src, keys, t_x, t_y, s_x, s_y, r,
                          a_id=t_id, b_id=s_id, carry_b=["_v"])
    wq = F.lit(1 << w_bits).cast("long") - F.pmod(
        F.lit(1 << w_bits).cast("long"), F.col("dist2") + F.lit(1))
    wq = (wq / (F.col("dist2") + F.lit(1))).cast("long")
    # sums in decimal: past max_neighbors a long sum could overflow under
    # ANSI while the check below materialises the persisted agg
    agg = (cand.withColumn("_w", wq)
           .groupBy(*keys, t_id)
           .agg(F.count(F.lit(1)).cast("long").alias("n_src"),
                F.sum(wide("_w")).alias("sum_w"),
                F.sum(wide(F.col("_w") * F.col("_v"))).alias("_swv")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max("n_src"),
            lambda worst: worst > max_neighbors,
            lambda worst: f"idw_quantized: a target has {worst} in-range "
                          f"sources (> max_neighbors={max_neighbors}); "
                          f"raise the cap or shrink r"))
        out = (targets.select(*keys, F.col(t_id))
               .join(agg, [*keys, t_id], "left")
               .select(*keys, t_id,
                       F.expr("_swv div sum_w").alias("idw_q"),
                       F.coalesce(F.col("n_src"), F.lit(0))
                       .cast("long").alias("n_src"),
                       F.coalesce(F.col("sum_w"), F.lit(0))
                       .cast("long").alias("sum_w")))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def ripley_k(df: DataFrame, keys: Sequence[str], id_col: str,
             x_col: str, y_col: str, radii: Sequence[int],
             area: int) -> DataFrame:
    """A48 — Ripley's K point-pattern statistic over an ascending
    radius ladder: per key and per radius r, the exact ORDERED pair
    count |{(i, j) : i != j, dist²(i, j) <= r²}| and the quantized
    estimator k_q = (area · n_pairs) div (n · (n−1)) — the classic
    clustering-vs-dispersion diagnostic (K above the CSR expectation
    π·r² means clustered at that scale).  Every emitted number is an
    exact BIGINT, so the surface hashes identically cross-engine
    (float K̂'s edge corrections are engine-dependent; callers wanting
    them divide downstream).  Keys with n < 2 emit NULL k_q; (key, r)
    cells with zero pairs are PRESENT with n_pairs = 0 — the zero is
    the signal (dispersion), not an absence.

    Shape: ONE radius_join_2d candidate pass at max(radii) (grid
    banding, exact-once pairs), then each surviving pair explodes over
    only the ladder radii that admit it (a lambda-filtered literal
    array — no second join, no per-radius rescan) into one map-side-
    combinable count; the (key × ladder) skeleton rides an explode off
    the key-sized count agg, so no crossJoin ever exists.  Envelope
    ENFORCED off the key-sized agg: area · n_max² < 2⁶² (n_max the
    largest per-key count), so area · n_pairs can never wrap.
    """
    radii = [int(r) for r in radii]
    if not radii or any(r < 1 for r in radii) or radii != sorted(set(radii)):
        raise ValueError(
            "ripley_k: radii must be a non-empty strictly ascending "
            "ladder of ints >= 1")
    if area < 1:
        raise ValueError("ripley_k: area must be >= 1")
    keys = list(keys)
    rmax = radii[-1]
    pts = (df.select(*keys, F.col(id_col),
                     F.col(x_col).cast("long").alias("_x"),
                     F.col(y_col).cast("long").alias("_y")))
    a = pts.select(*keys, F.col(id_col).alias("a_id"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"))
    b = pts.select(*keys, F.col(id_col).alias("b_id"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"))
    rj = (radius_join_2d(a, b, keys, "_ax", "_ay", "_bx", "_by", rmax)
          .filter(F.col("a_id") != F.col("b_id")))
    ladder = F.array(*[F.lit(r).cast("long") for r in radii])
    paircnt = (rj.select(
        *keys,
        F.explode(F.filter(ladder,
                           lambda rr: F.col("dist2") <= rr * rr))
        .alias("r"))
        .groupBy(*keys, "r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    nagg = (df.groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("n_pts")))
    nagg = nagg.persist()
    try:
        require(nagg, (
            F.max("n_pts"),
            lambda nmax: int(area) * nmax * nmax >= (1 << 62),
            lambda nmax: f"ripley_k: area·n_max² breaches the int64 "
                         f"envelope (area={area}, n_max={nmax}); shrink "
                         f"area units or partition the keys"))
        skel = nagg.withColumn("r", F.explode(ladder))
        n = F.col("n_pts")
        out = (skel.join(paircnt, [*keys, "r"], "left")
               .select(*keys, "r", "n_pts",
                       F.coalesce(F.col("n_pairs"), F.lit(0))
                       .cast("long").alias("n_pairs"))
               .withColumn(
                   "k_q",
                   F.when(n >= 2,
                          F.expr(f"({int(area)} * n_pairs) div "
                                 "(n_pts * (n_pts - 1))"))))
        out = out.localCheckpoint(eager=True)
    finally:
        nagg.unpersist()
    return out


def knox_test(df: DataFrame, keys: Sequence[str], id_col: str,
              x_col: str, y_col: str, t_col: str,
              r: int, t_band: int) -> DataFrame:
    """A49 — Knox space-time interaction test: per key, the exact
    unordered-pair evidence for whether points close in SPACE are also
    disproportionately close in TIME — the classic epidemiology
    statistic (disease outbreaks, crime series, contagion in event
    streams).  Emits, all exact BIGINT:

      n_pts, n_den = n(n−1)/2 (total pairs),
      ns_space     = pairs with dist² <= r²,
      nt_time      = pairs with |dt| <= t_band,
      x_st         = pairs close in BOTH (the Knox statistic),
      e_num        = ns_space · nt_time  (E[X] = e_num / n_den),
      eq_q         = e_num div n_den (quantized expectation),
      excess       = x_st · n_den − e_num  (> 0 iff X > E[X] — the
                     association's exact SIGN, no float anywhere).

    Keys with n < 2 emit NULL eq_q and zero counts.  The three pair
    counts come from the three proven banding joins — st_radius_join
    (3-D), radius_join_2d (2-D), band_join (1-D time) — each
    exact-once with `a_id < b_id` halving to unordered pairs, each
    collapsing to a key-sized count before anything is combined, so
    the exchange volume is three id-pair streams and four key-sized
    aggs; no quadratic surface exists on any axis.

    Envelope ENFORCED off the key-sized agg: n_max <= 65535 per key so
    x_st·n_den <= n⁴/4 < 2⁶² and e_num < 2⁶² are both provable;
    larger populations must partition the key (e.g. by day or tile).
    """
    keys = list(keys)
    pts = df.select(*keys, F.col(id_col),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(t_col).cast("long").alias("_t"))
    a = pts.select(*keys, F.col(id_col).alias("a_id"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"),
                   F.col("_t").alias("_at"))
    b = pts.select(*keys, F.col(id_col).alias("b_id"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
                   F.col("_t").alias("_bt"))
    lt = F.col("a_id") < F.col("b_id")

    def cnt(pairs: DataFrame, name: str) -> DataFrame:
        return (pairs.filter(lt).groupBy(*keys)
                .agg(F.count(F.lit(1)).cast("long").alias(name)))

    st = cnt(st_radius_join(a, b, keys, ("_ax", "_ay", "_at"),
                            ("_bx", "_by", "_bt"), r, t_band), "x_st")
    sp = cnt(radius_join_2d(a, b, keys, "_ax", "_ay", "_bx", "_by", r),
             "ns_space")
    tm = cnt(band_join(a, b, keys, "_at", "_bt", t_band), "nt_time")
    nagg = (pts.groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("n_pts")))
    nagg = nagg.persist()
    try:
        require(nagg, (
            F.max("n_pts"), lambda nmax: nmax > 65535,
            lambda nmax: f"knox_test: a key holds {nmax} points "
                         f"(> 65535) — x_st·n_den would breach int64; "
                         f"partition the key"))
        base = nagg
        for d in (sp, tm, st):
            base = base.join(d, keys, "left")
        n = F.col("n_pts")
        z = F.lit(0).cast("long")
        out = (base.select(
            *keys, "n_pts",
            F.expr("(n_pts * (n_pts - 1)) div 2").alias("n_den"),
            F.coalesce(F.col("ns_space"), z).alias("ns_space"),
            F.coalesce(F.col("nt_time"), z).alias("nt_time"),
            F.coalesce(F.col("x_st"), z).alias("x_st"))
            .withColumn("e_num", F.col("ns_space") * F.col("nt_time"))
            .withColumn("eq_q", F.when(n >= 2,
                                       F.expr("e_num div n_den")))
            .withColumn("excess",
                        F.col("x_st") * F.col("n_den") - F.col("e_num")))
        out = out.localCheckpoint(eager=True)
    finally:
        nagg.unpersist()
    return out


def join_count_stats(df: DataFrame, keys: Sequence[str], id_col: str,
                     x_col: str, y_col: str, mark_col: str,
                     r: int) -> DataFrame:
    """A50 — Cliff–Ord join-count statistics: per key, the exact
    binary-mark spatial-autocorrelation evidence over the within-`r`
    neighbor graph — the black/black, white/white and black/white
    neighbor-pair counts against their complete-spatial-randomness
    expectations (non-free sampling), all exact BIGINT so the surface
    hashes identically cross-engine.  Emits per key:

      n_pts, n1 (marks = 1), w_pairs (unordered neighbor pairs),
      bb / ww / bw           (pair counts; bb + ww + bw = w_pairs),
      den = n(n−1),
      ebb_num = w·n1(n1−1), eww_num = w·n0(n0−1), ebw_num = 2w·n1·n0
                             (E[·] = ·_num / den),
      dbb = bb·den − ebb_num, dww, dbw — the excesses, whose exact
      SIGN says clustered (dbb, dww > 0) vs dispersed/checkerboard
      (dbw > 0) with no float anywhere.

    Marks must be 0/1 (ENFORCED with a raise).  Shape: ONE
    radius_join_2d pass with both marks riding as carry columns (no
    id-keyed join-back), `a_id < b_id` halving to unordered pairs,
    then one key-sized conditional agg; the mark totals are a second
    key-sized agg.  Envelope ENFORCED off a driver scalar: n per key
    <= 65535, which makes every product above provable int64 (the
    largest, bb·den < n⁴/2, just fits at that bound).
    """
    keys = list(keys)
    pts = df.select(*keys, F.col(id_col),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(mark_col).cast("long").alias("_m"))
    a = pts.select(*keys, F.col(id_col).alias("a_id"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"),
                   F.col("_m").alias("_ma"))
    b = pts.select(*keys, F.col(id_col).alias("b_id"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
                   F.col("_m").alias("_mb"))
    pairs = (radius_join_2d(a, b, keys, "_ax", "_ay", "_bx", "_by", r,
                            carry_a=["_ma"], carry_b=["_mb"])
             .filter(F.col("a_id") < F.col("b_id")))
    ma, mb = F.col("_ma"), F.col("_mb")
    pc = (pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.sum((ma * mb)).cast("long").alias("bb"),
        F.sum(((1 - ma) * (1 - mb))).cast("long").alias("ww"),
        F.sum((ma + mb - 2 * ma * mb)).cast("long").alias("bw")))
    nagg = (pts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        F.sum("_m").cast("long").alias("n1"),
        F.min("_m").alias("_lo"), F.max("_m").alias("_hi")))
    nagg = nagg.persist()
    try:
        mmsg = "join_count_stats: marks must be binary 0/1"
        require(nagg, (F.min("_lo"), lambda lo: lo < 0, mmsg),
                (F.max("_hi"), lambda hi: hi > 1, mmsg), (
            F.max("n_pts"), lambda nmax: nmax > 65535,
            lambda nmax: f"join_count_stats: a key holds {nmax} points "
                         f"(> 65535) — w·n² would breach int64; "
                         f"partition the key"))
        z = F.lit(0).cast("long")
        n, n1 = F.col("n_pts"), F.col("n1")
        n0 = n - n1
        w = F.coalesce(F.col("w_pairs"), z)
        out = (nagg.drop("_lo", "_hi").join(pc, keys, "left")
               .select(
            *keys, "n_pts", "n1",
            w.alias("w_pairs"),
            F.coalesce(F.col("bb"), z).alias("bb"),
            F.coalesce(F.col("ww"), z).alias("ww"),
            F.coalesce(F.col("bw"), z).alias("bw"),
            (n * (n - 1)).alias("den"),
            (w * n1 * (n1 - 1)).alias("ebb_num"),
            (w * n0 * (n0 - 1)).alias("eww_num"),
            (F.lit(2) * w * n1 * n0).alias("ebw_num"))
               .withColumn("dbb", F.col("bb") * F.col("den")
                           - F.col("ebb_num"))
               .withColumn("dww", F.col("ww") * F.col("den")
                           - F.col("eww_num"))
               .withColumn("dbw", F.col("bw") * F.col("den")
                           - F.col("ebw_num")))
        out = out.localCheckpoint(eager=True)
    finally:
        nagg.unpersist()
    return out


def areal_interp(src: DataFrame, tgt: DataFrame, keys: Sequence[str],
                 src_box: Sequence[str], tgt_box: Sequence[str],
                 val_col: str, cell: int,
                 src_id: str = "src_id", tgt_id: str = "tgt_id",
                 max_cells: int = 4096) -> DataFrame:
    """A51 — areal interpolation (area-weighted reaggregation): move an
    extensive variable (population, counts, mass) from SOURCE zones to
    TARGET zones — both CLOSED integer rectangles — proportional to
    overlap, the standard zone-system change operation in spatial
    statistics.  Area is the exact unit-CELL count of a closed box
    ((x2−x1+1)·(y2−y1+1), the rect_union_area semantic), and each
    piece's contribution is QUANTIZED:

        contrib(s, t) = (v_s · cells(s ∩ t)) div cells(s)

    so every intermediate is a provable int64 and the surface hashes
    identically cross-engine (floor per piece; a source overlapping k
    targets can under-deliver at most k−1 units — the documented
    quantization, same posture as idw_quantized).  Emits one row per
    target: (keys..., tgt_id, v_q = Σ contrib, n_src pieces,
    inter_cells = Σ overlap cells); zero-coverage targets are PRESENT
    with all-zero measures.

    Shape: ONE bbox_overlap_join pass (canonical-cell exactly-once
    candidates, value riding as carry — no id-keyed join-back), the
    piece arithmetic map-side, one combinable tgt-keyed agg, one left
    join back to targets.  Envelope ENFORCED with raises: per-source
    cells(s) < 2³¹ and 0 <= v_s < 2³¹ so v_s·cells(s ∩ t) <= v_s·
    cells(s) < 2⁶² can never wrap (checked off a source-sized agg —
    box validity itself is bbox_overlap_join's raise).
    """
    keys = list(keys)
    sx1, sy1, sx2, sy2 = src_box
    s = src.withColumn("_v", F.col(val_col).cast("long")).withColumn(
        "_scells",
        (F.col(sx2).cast("long") - F.col(sx1).cast("long") + 1)
        * (F.col(sy2).cast("long") - F.col(sy1).cast("long") + 1))
    # each span clamped to [-2^63, 2^63]: a clamp changes the product
    # only where the long product overflows, and keeps it below 10^38
    span = [F.least(F.greatest(wide(F.col(c2).cast("long"))
                               - wide(F.col(c1).cast("long")) + 1,
                               F.lit(-(1 << 63))), F.lit(Decimal(1 << 63)))
            for c1, c2 in ((sx1, sx2), (sy1, sy2))]
    vmsg = ("areal_interp: source values must be integers in "
            "[0, 2^31) for the exact-product envelope")
    require(s, (F.min("_v"), lambda lo: lo < 0, vmsg),
            (F.max("_v"), lambda hi: hi >= (1 << 31), vmsg), (
        F.when(F.count("_v") > 0, F.max(span[0] * span[1])),
        lambda cmax: cmax >= (1 << 31),
        lambda cmax: f"areal_interp: a source box covers {cmax} cells "
                     f"(>= 2^31) — v·cells would breach int64; split "
                     f"giant zones upstream"))
    pieces = bbox_overlap_join(
        s, tgt, keys, src_box, tgt_box, cell,
        a_id=src_id, b_id=tgt_id, max_cells=max_cells,
        carry_a=["_v", "_scells"])
    icells = ((F.col("ix2") - F.col("ix1") + 1)
              * (F.col("iy2") - F.col("iy1") + 1))
    agg = (pieces
           .withColumn("_ic", icells)
           .withColumn("_contrib",
                       F.expr("(_v * _ic) div _scells"))
           .groupBy(*keys, tgt_id)
           .agg(F.sum("_contrib").cast("long").alias("v_q"),
                F.count(F.lit(1)).cast("long").alias("n_src"),
                F.sum("_ic").cast("long").alias("inter_cells")))
    z = F.lit(0).cast("long")
    return (tgt.select(*keys, F.col(tgt_id))
            .join(agg, [*keys, tgt_id], "left")
            .select(*keys, tgt_id,
                    F.coalesce(F.col("v_q"), z).alias("v_q"),
                    F.coalesce(F.col("n_src"), z).alias("n_src"),
                    F.coalesce(F.col("inter_cells"), z)
                    .alias("inter_cells")))


def quadrat_test(df: DataFrame, keys: Sequence[str],
                 x_col: str, y_col: str,
                 x0: int, y0: int, w: int, h: int,
                 gx: int, gy: int) -> DataFrame:
    """A54 — quadrat-count CSR test: partition the declared extent
    [x0, x0+w) × [y0, y0+h) into a gx × gy quadrat grid and emit, per
    key, the exact integer evidence for the chi² test of complete
    spatial randomness — the oldest point-pattern test there is:

      n_pts, n_quadrats = gx·gy, occ (occupied quadrats),
      sum_sq   = Σ over quadrats of count²  (empties add 0),
      chi2_num = n_quadrats · sum_sq − n²   (chi² = chi2_num / n —
                 the index-of-dispersion numerator, exact; its SIGN
                 against (n_quadrats−1)·n says clustered vs regular
                 with no float anywhere).

    Points OUTSIDE the declared extent are REJECTED with a raise —
    silently dropping them would bias n against sum_sq and corrupt
    the statistic; w, h must divide by gx, gy exactly (raise) so
    every quadrat has identical area and the uniform CSR expectation
    n/n_quadrats is the true model.

    Shape: one map-side quadrat assignment (pure integer floor-divs),
    one combinable (key, quadrat) count, one key-sized agg — two
    exchanges total, both shrinking.  Envelope ENFORCED off the
    key-sized agg: n per key <= 2³⁰ and n_quadrats·sum_sq < 2⁶²
    (sum_sq <= n² makes the check exact driver-side arithmetic).
    """
    gx, gy = int(gx), int(gy)
    if gx < 1 or gy < 1:
        raise ValueError("quadrat_test: gx, gy must be >= 1")
    if w % gx or h % gy:
        raise ValueError(
            "quadrat_test: w, h must divide exactly by gx, gy — "
            "unequal quadrats break the uniform CSR expectation")
    cw, ch = w // gx, h // gy
    keys = list(keys)
    px = F.col(x_col).cast("long")
    py = F.col(y_col).cast("long")
    require(df, (
        F.bool_or((px < x0) | (px >= x0 + w) | (py < y0) | (py >= y0 + h)),
        bool, "quadrat_test: a point lies outside the declared extent "
              "— clip or widen upstream (silent drops would bias the "
              "statistic)"))
    q = (df.select(*keys,
                   ((px - F.lit(x0)) / F.lit(cw)).cast("long")
                   .alias("_qx"),
                   ((py - F.lit(y0)) / F.lit(ch)).cast("long")
                   .alias("_qy"))
         .groupBy(*keys, "_qx", "_qy")
         .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    agg = (q.groupBy(*keys)
           .agg(F.sum("_c").cast("long").alias("n_pts"),
                F.count(F.lit(1)).cast("long").alias("occ"),
                F.sum(F.col("_c") * F.col("_c")).cast("long")
                .alias("sum_sq")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max("n_pts"),
            lambda nmax: nmax > (1 << 30)
            or gx * gy * nmax * nmax >= (1 << 62),
            lambda nmax: f"quadrat_test: n_quadrats·n² breaches int64 "
                         f"(n_max={nmax}, quadrats={gx * gy}); partition "
                         f"the key or coarsen the grid"))
        nq = F.lit(gx * gy).cast("long")
        out = agg.select(
            *keys, "n_pts", nq.alias("n_quadrats"), "occ", "sum_sq",
            (nq * F.col("sum_sq") - F.col("n_pts") * F.col("n_pts"))
            .alias("chi2_num"))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def ripley_cross_k(a: DataFrame, b: DataFrame, keys: Sequence[str],
                   a_id: str, a_x: str, a_y: str,
                   b_id: str, b_x: str, b_y: str,
                   radii: Sequence[int], area: int) -> DataFrame:
    """A55 — bivariate (cross-type) Ripley's K: per key and radius
    rung, the exact count of ORDERED (a, b) pairs with dist² <= r²
    between two DIFFERENT point types, plus the quantized estimator
    k_q = (area·n_pairs) div (n_a·n_b) — the attraction-vs-repulsion
    diagnostic between event classes (stores vs incidents, views vs
    clicks) that univariate K cannot express.  Same contract as A50:
    every number exact BIGINT, zero-pair rungs PRESENT, keys with
    n_a·n_b = 0 emit NULL k_q; same shape (ONE banding pass at max
    rung, ladder explode via a lambda-filtered literal array, the
    (key × ladder) skeleton off the key-sized count aggs, no
    crossJoin); envelope area·n_a_max·n_b_max < 2⁶² ENFORCED.
    """
    radii = [int(r) for r in radii]
    if not radii or any(r < 1 for r in radii) or radii != sorted(set(radii)):
        raise ValueError(
            "ripley_cross_k: radii must be a non-empty strictly "
            "ascending ladder of ints >= 1")
    if area < 1:
        raise ValueError("ripley_cross_k: area must be >= 1")
    keys = list(keys)
    rmax = radii[-1]
    aa = a.select(*keys, F.col(a_id).alias("_aid"),
                  F.col(a_x).cast("long").alias("_ax"),
                  F.col(a_y).cast("long").alias("_ay"))
    bb = b.select(*keys, F.col(b_id).alias("_bid"),
                  F.col(b_x).cast("long").alias("_bx"),
                  F.col(b_y).cast("long").alias("_by"))
    rj = radius_join_2d(aa, bb, keys, "_ax", "_ay", "_bx", "_by",
                        rmax, a_id="_aid", b_id="_bid")
    ladder = F.array(*[F.lit(r).cast("long") for r in radii])
    paircnt = (rj.select(
        *keys,
        F.explode(F.filter(ladder,
                           lambda rr: F.col("dist2") <= rr * rr))
        .alias("r"))
        .groupBy(*keys, "r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    na = (a.groupBy(*keys)
          .agg(F.count(F.lit(1)).cast("long").alias("n_a")))
    nb = (b.groupBy(*keys)
          .agg(F.count(F.lit(1)).cast("long").alias("n_b")))
    if keys:
        nagg = na.join(nb, keys, "outer")
    else:
        nagg = na.crossJoin(nb)  # two 1-row global aggs
    nagg = nagg.select(
        *keys,
        F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("long")).alias("n_b"))
    nagg = nagg.persist()
    try:
        require(nagg, (
            F.struct(F.max("n_a").alias("a"), F.max("n_b").alias("b")),
            lambda m: int(area) * (m.a or 0) * (m.b or 0) >= (1 << 62),
            lambda m: f"ripley_cross_k: area·n_a_max·n_b_max breaches "
                      f"int64 (area={area}, n_a={m.a}, n_b={m.b})"))
        skel = nagg.withColumn("r", F.explode(ladder))
        out = (skel.join(paircnt, [*keys, "r"], "left")
               .select(*keys, "r", "n_a", "n_b",
                       F.coalesce(F.col("n_pairs"),
                                  F.lit(0).cast("long"))
                       .alias("n_pairs"))
               .withColumn(
                   "k_q",
                   F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                          F.expr(f"({int(area)} * n_pairs) div "
                                 "(n_a * n_b)"))))
        out = out.localCheckpoint(eager=True)
    finally:
        nagg.unpersist()
    return out


def colocation_participation(df: DataFrame, keys: Sequence[str],
                             id_col: str, type_col: str,
                             x_col: str, y_col: str, r: int,
                             frac_bits: int = 20) -> DataFrame:
    """A56 — co-location participation (Shekhar-style co-location
    pattern mining): for every ORDERED pair of point types (ta, tb),
    the participation ratio pr(ta→tb) = |{a of type ta with >= 1
    tb-neighbor within r}| / n_ta — the standard interestingness
    measure for "which event classes occur near each other", with the
    participation INDEX of the unordered pair being the min of the two
    directions (derivable row-wise downstream since both ordered rows
    are emitted).  Every emitted number is exact: pr_num (the
    participating count), n_type (the denominator), and pr_q =
    (pr_num << frac_bits) div n_type — the ratio quantized to
    2^-frac_bits, hash-identical cross-engine.  Same-type rows
    (ta = tb, self-pairs excluded) are included — they measure
    within-class clustering.  Type pairs with NO participating point
    are PRESENT with pr_num = 0 whenever both types exist in the key
    (the zero is the repulsion signal).

    Shape: ONE radius_join_2d pass with both type labels riding as
    carry columns, self-pairs dropped, then countDistinct(a_id) per
    (key, ta, tb) — Spark plans distinct-aggregate as a two-level
    partial distinct, so the exchange carries (key, ta, tb, a_id)
    rows already deduplicated map-side; the (key × type-pair)
    skeleton is the type-count agg joined to itself per key (a
    dim-sized frame).  Envelope: pr_num <= n_type so the shift needs
    n_type < 2^(62-frac_bits), ENFORCED off the key-sized agg.
    """
    if not (1 <= int(frac_bits) <= 40):
        raise ValueError(
            "colocation_participation: frac_bits must be in [1, 40]")
    keys = list(keys)
    pts = df.select(*keys, F.col(id_col),
                    F.col(type_col).alias("_t"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"))
    a = pts.select(*keys, F.col(id_col).alias("a_id"),
                   F.col("_t").alias("_ta"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"))
    b = pts.select(*keys, F.col(id_col).alias("b_id"),
                   F.col("_t").alias("_tb"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"))
    hits = (radius_join_2d(a, b, keys, "_ax", "_ay", "_bx", "_by",
                           int(r), carry_a=["_ta"], carry_b=["_tb"])
            .filter(F.col("a_id") != F.col("b_id")))
    part = (hits.groupBy(*keys, "_ta", "_tb")
            .agg(F.countDistinct("a_id").cast("long").alias("pr_num")))
    tc = (pts.groupBy(*keys, "_t")
          .agg(F.count(F.lit(1)).cast("long").alias("_n")))
    tc = tc.persist()
    try:
        require(tc, (
            F.max("_n"), lambda nmax: nmax >= (1 << (62 - int(frac_bits))),
            lambda nmax: f"colocation_participation: a type holds {nmax} "
                         f"points — the << {frac_bits} shift would breach "
                         f"int64; lower frac_bits or partition the key"))
        ta = tc.select(*keys, F.col("_t").alias("_ta"),
                       F.col("_n").alias("n_type"))
        tb = tc.select(*keys, F.col("_t").alias("_tb"))
        skel = ta.join(tb, keys) if keys else ta.crossJoin(tb)
        out = (skel.join(part, [*keys, "_ta", "_tb"], "left")
               .select(*keys,
                       F.col("_ta").alias("type_a"),
                       F.col("_tb").alias("type_b"),
                       F.coalesce(F.col("pr_num"),
                                  F.lit(0).cast("long"))
                       .alias("pr_num"),
                       "n_type")
               .withColumn(
                   "pr_q",
                   F.expr(f"(pr_num * {1 << int(frac_bits)}) div "
                          "n_type")))
        out = out.localCheckpoint(eager=True)
    finally:
        tc.unpersist()
    return out


def radius_of_gyration(df: DataFrame, keys: Sequence[str],
                       x_col: str, y_col: str) -> DataFrame:
    """A57 — radius of gyration per key, the standard human-mobility
    statistic (González-Hidalgo-Barabási): rg² = (1/n)·Σ|rᵢ − r_cm|²,
    the second moment of a mover's visited points about their centroid
    — THE single-number summary of how far an entity ranges.  Emitted
    as exact integer evidence with no float anywhere:

      n_pts, sum_x, sum_y  (the centroid as an exact fraction),
      rg2_num = n·Σ(x²+y²) − (Σx)² − (Σy)²,   rg2_den = n²
                (rg² = rg2_num / rg2_den exactly — the standard
                 algebraic expansion clears the centroid fraction),
      rg2_q   = rg2_num div rg2_den  (quantized for direct compare).

    100-TB shape: ONE map-side-combinable aggregation — five sums and
    a count — so the exchange carries one 6-number row per key and the
    corpus never moves; this is the cheapest per-entity mobility
    signal there is, and the reason it is the first feature every
    mobility pipeline computes.  Envelope ENFORCED with a raise:
    |coord| < 2¹⁵ and n per key <= 2¹⁵ make every term provable int64
    ((Σx)² < 2⁶⁰, n·Σ(x²+y²) < 2⁶¹) — rescale or sub-key (e.g. per
    month) above that.
    """
    keys = list(keys)
    px = F.col(x_col).cast("long")
    py = F.col(y_col).cast("long")
    lim = 1 << 15
    # Envelope check FUSED into the one aggregation the op runs anyway
    # (one corpus scan, not two): sums are when()-guarded so no
    # overflow-capable product is evaluated on an out-of-envelope row
    # (ANSI mode would throw before our ValueError), and the per-key
    # max-abs flag rides the same exchange as the sums.  On in-envelope
    # data every guarded sum equals the unguarded one.
    ok = ~beyond(lim - 1, px, py)
    agg = (df.groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n_pts"),
                F.sum(F.when(ok, px)).cast("long").alias("sum_x"),
                F.sum(F.when(ok, py)).cast("long").alias("sum_y"),
                F.sum(F.when(ok, px * px + py * py)).cast("long")
                .alias("_ssq"),
                F.max(F.when(ok, 0).otherwise(1)).alias("_oob")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max("_oob"), bool,
            "radius_of_gyration: |coordinate| >= 2^15 — (Σx)² could "
            "breach int64; rescale upstream"), (
            F.max("n_pts"), lambda nmax: nmax > lim,
            lambda nmax: f"radius_of_gyration: a key holds {nmax} points "
                         f"(> 2^15) — n·Σ(x²+y²) could breach int64; "
                         f"sub-key the entity (e.g. per month)"))
        n = F.col("n_pts")
        num = (n * F.col("_ssq") - F.col("sum_x") * F.col("sum_x")
               - F.col("sum_y") * F.col("sum_y"))
        out = (agg.select(*keys, "n_pts", "sum_x", "sum_y",
                          num.alias("rg2_num"),
                          (n * n).alias("rg2_den"))
               .withColumn("rg2_q", F.expr("rg2_num div rg2_den")))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def displacement_hist(df: DataFrame, keys: Sequence[str],
                      order: Sequence[str], x_col: str, y_col: str,
                      edges: Sequence[int]) -> DataFrame:
    """A58 — jump-length (displacement) histogram, the second classic
    mobility distribution (with A57's radius of gyration): per key,
    the exact count of CONSECUTIVE-step squared displacements falling
    in each bin of a declared ascending dist²-edge ladder — bin i
    holds steps with edges[i-1] <= dist² < edges[i] (bin 0 is
    [0, edges[0]), the last bin is [edges[-1], ∞)) — plus the exact
    total step count and Σdist², all BIGINT, so the whole distribution
    hashes identically cross-engine (the power-law tail check every
    mobility paper runs).  Keys with < 2 points emit nothing (no
    steps exist).  Empty bins are PRESENT with n 0.

    Shape: one per-key ordered window (lag) produces the steps
    map-side; bin assignment is a lambda-filtered literal-array size
    (pure codegen, no join); one combinable (key, bin) count plus a
    key-sized totals agg, joined back to the (key × bin) skeleton off
    the totals agg's explode — no crossJoin.  Envelope: |coord| <
    2³⁰ ENFORCED (dist² < 2⁶³ provable), and n·max_step < 2⁶³ per key
    ENFORCED (Σdist² <= n·max_step, so the BIGINT sum cannot wrap).
    """
    edges = [int(e) for e in edges]
    if not edges or any(e < 1 for e in edges) or edges != sorted(set(edges)):
        raise ValueError(
            "displacement_hist: edges must be a non-empty strictly "
            "ascending ladder of ints >= 1")
    keys = list(keys)
    lim = (1 << 30) - 1
    px = F.col(x_col).cast("long")
    py = F.col(y_col).cast("long")
    require(df, (F.bool_or(beyond(lim, px, py)), bool,
                 "displacement_hist: |coordinate| > 2^30 - 1 — dist² "
                 "could overflow int64; rescale upstream"))
    w = Window.partitionBy(*keys).orderBy(*order)
    dx = px - F.lag(px).over(w)
    dy = py - F.lag(py).over(w)
    steps = (df.select(*keys, (dx * dx + dy * dy).alias("_d2"))
             .filter(F.col("_d2").isNotNull()))
    ladder = F.array(*[F.lit(e).cast("long") for e in edges])
    binc = F.size(F.filter(ladder, lambda e: e <= F.col("_d2"))) \
        .cast("long")
    bc = (steps.withColumn("_bin", binc)
          .groupBy(*keys, "_bin")
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    # Σdist² summed in decimal: a long sum would overflow under ANSI
    # while the check below materialises the persisted totals
    tot = (steps.groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n_steps"),
                F.sum(wide("_d2")).alias("sum_d2"),
                F.max("_d2").alias("_mx")))
    tot = tot.persist()
    try:
        require(tot, (F.max(wide("n_steps") * F.col("_mx")),
                      lambda b: b >= (1 << 63),
                      "displacement_hist: Σdist² overflow (n·max_step "
                      "wrapped int64); partition the key"))
        nb = len(edges) + 1
        skel = (tot.drop("_mx")
                .withColumn("bin", F.explode(F.array(
                    *[F.lit(i).cast("long") for i in range(nb)]))))
        out = (skel.join(bc.withColumnRenamed("_bin", "bin"),
                         [*keys, "bin"], "left")
               .select(*keys, "bin", "n_steps",
                       F.col("sum_d2").cast("long").alias("sum_d2"),
                       F.coalesce(F.col("n"), F.lit(0).cast("long"))
                       .alias("n")))
        out = out.localCheckpoint(eager=True)
    finally:
        tot.unpersist()
    return out


def location_diversity(df: DataFrame, keys: Sequence[str],
                       cx_col: str, cy_col: str,
                       frac_bits: int = 20) -> DataFrame:
    """A59 — location diversity / predictability proxy: per entity,
    the exact count of pings, distinct visited cells, the top cell's
    visit count (ties to the lexicographically smallest (cx, cy) —
    deterministic), and the 2^-frac_bits-quantized top-cell share —
    the entropy-free regularity signal (a high top share = a
    predictable entity) every mobility/fraud pipeline computes next
    to A57/A58.  All numbers exact BIGINT.

    Shape: one combinable (key, cell) count, then ONE per-key max
    over a struct ordered (count DESC via negation, cx, cy) — an agg,
    not a window — plus the distinct-cell count from the same
    cell-grain frame; two shrinking exchanges.  Envelope: n per key
    < 2^(62-frac_bits) ENFORCED for the shift.
    """
    if not (1 <= int(frac_bits) <= 40):
        raise ValueError(
            "location_diversity: frac_bits must be in [1, 40]")
    keys = list(keys)
    cells = (df.groupBy(*keys, F.col(cx_col).cast("long").alias("_cx"),
                        F.col(cy_col).cast("long").alias("_cy"))
             .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    agg = (cells.groupBy(*keys)
           .agg(F.sum("_c").cast("long").alias("n_pings"),
                F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.min(F.struct((-F.col("_c")).alias("_neg"),
                               F.col("_cx"), F.col("_cy")))
                .alias("_top")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max("n_pings"),
            lambda nmax: nmax >= (1 << (62 - int(frac_bits))),
            lambda nmax: f"location_diversity: an entity holds {nmax} "
                         f"pings — the << {frac_bits} shift would breach "
                         f"int64"))
        out = (agg.select(
            *keys, "n_pings", "n_cells",
            (-F.col("_top._neg")).alias("top_count"),
            F.col("_top._cx").alias("top_cx"),
            F.col("_top._cy").alias("top_cy"))
            .withColumn(
                "top_share_q",
                F.expr(f"(top_count * {1 << int(frac_bits)}) div "
                       "n_pings")))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def rect_components(df: DataFrame, keys: Sequence[str], id_col: str,
                    box: Sequence[str], cell: int,
                    max_cells: int = 4096,
                    max_iters: int = 16) -> DataFrame:
    """A60 — spatial dissolve: group CLOSED integer rectangles into
    connected components under "touches or overlaps" (closed-box
    intersection, exact-touch seams INCLUDED — the cadastral /
    land-parcel dissolve rule) and emit per rectangle its component
    label plus the component's exact dissolved bounding box and
    member count — the GIS dissolve-by-contiguity operation.  The
    label is the component's MINIMUM rect id (deterministic,
    engine-independent), so the oracle can replay the closure with a
    recursive CTE.

    Shape: the adjacency edges come from ONE bbox_overlap_join pass
    (canonical-cell exactly-once, a_id < b_id halves), components
    from min-label pointer jumping (O(log diameter) rounds, id-only
    exchanges — ops.min_label_components), then one combinable
    component-grain agg for the dissolved bbox; the rect table
    shuffles once for the edge pass and once keyed by label.
    Envelope: inherited from bbox_overlap_join (inverted boxes raise,
    per-box cell fan-out capped at max_cells).
    """
    keys = list(keys)
    if keys:
        # component labels are per-key: prefix ids by key hash is NOT
        # sound (collisions) — run the generic CC on composite ids is
        # overkill here; the driver surface uses global dissolve.
        raise ValueError(
            "rect_components: keyed dissolve not supported — "
            "dissolve per key by filtering upstream")
    x1, y1, x2, y2 = box
    r = df.select(F.col(id_col).cast("long").alias("_id"),
                  F.col(x1).cast("long").alias("_x1"),
                  F.col(y1).cast("long").alias("_y1"),
                  F.col(x2).cast("long").alias("_x2"),
                  F.col(y2).cast("long").alias("_y2"))
    a = r.select(F.col("_id").alias("a_id"), "_x1", "_y1", "_x2",
                 "_y2")
    b = r.select(F.col("_id").alias("b_id"),
                 F.col("_x1").alias("_bx1"), F.col("_y1").alias("_by1"),
                 F.col("_x2").alias("_bx2"), F.col("_y2").alias("_by2"))
    edges = (bbox_overlap_join(a, b, [],
                               ("_x1", "_y1", "_x2", "_y2"),
                               ("_bx1", "_by1", "_bx2", "_by2"),
                               cell, max_cells=max_cells)
             .filter(F.col("a_id") < F.col("b_id"))
             .select(F.col("a_id").alias("a"),
                     F.col("b_id").alias("b")))
    nodes = r.select(F.col("_id").alias("id"))
    labels = min_label_components(nodes, edges, max_iters=max_iters)
    lab = labels.withColumnRenamed("id", "_id")
    joined = r.join(lab, "_id")
    comp = (joined.groupBy("component_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rects"),
                 F.min("_x1").alias("comp_x1"),
                 F.min("_y1").alias("comp_y1"),
                 F.max("_x2").alias("comp_x2"),
                 F.max("_y2").alias("comp_y2")))
    return (joined.join(comp, "component_id")
            .select(F.col("_id").alias(id_col), "component_id",
                    "n_rects", "comp_x1", "comp_y1", "comp_x2",
                    "comp_y2"))


def nn_distance_stats(df: DataFrame, keys: Sequence[str], id_col: str,
                      x_col: str, y_col: str, r_max: int) -> DataFrame:
    """A61 — nearest-neighbor distance statistics (the Clark-Evans
    aggregation): per key, exact evidence about the distribution of
    each point's nearest-neighbor distance within `r_max` — mean NN
    distance against the CSR expectation is the classic
    clustered-vs-regular index, and the inputs here are all exact
    BIGINT:

      n_pts, n_matched (points with a neighbor within r_max),
      n_isolated = n_pts − n_matched (the bounded-search honesty —
                   a relational NN is radius-bounded; isolated counts
                   are the signal, not an error),
      sum_d2, max_d2  (over matched points' NN dist²),
      sum_d           (Σ floor(√dist²) — EXACT integer sqrt: float
                       sqrt then a ±1 correction step, valid for
                       d² < 2⁵² where double sqrt is within one ulp;
                       both engines compute the identical integer).

    The NN choice itself is deterministic under knn_join_bounded's
    (dist2, b_id) order.  Envelope ENFORCED: r_max <= 2²⁶ keeps
    d² <= 2⁵² (the isqrt-correction validity bound).

    Shape: one J16 pass at k=1 (grid banding, id-only rank exchange),
    one key-sized agg, one left join against the per-key totals so
    zero-matched keys emit zeros.
    """
    if not (1 <= int(r_max) <= (1 << 26)):
        raise ValueError(
            "nn_distance_stats: r_max must be in [1, 2^26] (the "
            "exact-isqrt envelope d² <= 2^52)")
    keys = list(keys)
    pts = df.select(*keys, F.col(id_col),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"))
    a = pts.select(*keys, F.col(id_col).alias("a_id"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"))
    b = pts.select(*keys, F.col(id_col).alias("b_id"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"))
    # self-pairs ride at dist2 = 0 and would always win rank 1: take
    # k=2 and keep the first non-self row per a_id
    nn = (knn_join_bounded(a, b, keys, "_ax", "_ay", "_bx", "_by",
                           int(r_max), 2)
          .filter(F.col("a_id") != F.col("b_id")))
    w = Window.partitionBy(*keys, "a_id").orderBy(
        F.col("dist2").asc(), F.col("b_id").asc())
    best = (nn.withColumn("_r2", F.row_number().over(w))
            .filter(F.col("_r2") == 1))
    s = F.expr("CAST(FLOOR(SQRT(CAST(dist2 AS DOUBLE))) AS BIGINT)")
    isq = (F.when((s + 1) * (s + 1) <= F.col("dist2"), s + 1)
           .when(s * s > F.col("dist2"), s - 1).otherwise(s))
    magg = (best.withColumn("_d", isq)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("n_matched"),
                 F.sum("dist2").cast("long").alias("sum_d2"),
                 F.max("dist2").alias("max_d2"),
                 F.sum("_d").cast("long").alias("sum_d")))
    tot = (pts.groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n_pts")))
    z = F.lit(0).cast("long")
    # keys=[] needs a constant join key (a crossJoin would drop the
    # totals row entirely when NO point has a neighbor)
    jk = keys if keys else ["_k"]
    if not keys:
        tot = tot.withColumn("_k", F.lit(1))
        magg = magg.withColumn("_k", F.lit(1))
    return tot.join(magg, jk, "left").select(
        *keys, "n_pts",
        F.coalesce(F.col("n_matched"), z).alias("n_matched"),
        (F.col("n_pts") - F.coalesce(F.col("n_matched"), z))
        .alias("n_isolated"),
        F.coalesce(F.col("sum_d2"), z).alias("sum_d2"),
        F.coalesce(F.col("max_d2"), z).alias("max_d2"),
        F.coalesce(F.col("sum_d"), z).alias("sum_d"))


def directional_stats(df: DataFrame, keys: Sequence[str],
                      x_col: str, y_col: str) -> DataFrame:
    """A62 — directional distribution (standard deviational ellipse)
    evidence: per key, the exact centered second-moment tensor of the
    point set — the SDE every GIS draws is the eigensystem of this
    tensor, and emitting the tensor as exact integers (the same
    n²-clearing expansion as A57's radius of gyration) keeps the
    surface float-free and bit-portable; the rotation/axes are one
    driver-side 2×2 eigen-solve downstream:

      n_pts, sum_x, sum_y       (the centroid as an exact fraction),
      sxx_num = n·Σx² − (Σx)²,
      syy_num = n·Σy² − (Σy)²,
      sxy_num = n·Σxy − Σx·Σy   (common denominator n² for all
                three — Sxx = sxx_num/n² etc. exactly).

    The eigenvalue-gap / anisotropy comparison is deliberately NOT
    emitted: it is fourth-order in the inputs ((sxx−syy)² + 4·sxy²)
    and breaches int64 for any realistic extent; with the exact
    tensor in hand the caller computes it at whatever precision they
    need on a per-key scalar.

    100-TB shape: ONE map-side-combinable agg (six sums + a count) —
    an 8-number row per key on the exchange, the corpus never moves.
    Envelope ENFORCED with raises (same as A57): |coord| < 2¹⁵ and
    n <= 2¹⁵ per key make every emitted term provable int64
    (n·Σx² <= 2⁶⁰, (Σx)² <= 2⁶⁰, |sxy_num| <= 2⁶¹).
    """
    keys = list(keys)
    px = F.col(x_col).cast("long")
    py = F.col(y_col).cast("long")
    lim = 1 << 15
    # Envelope check fused into the op's own aggregation (the A57
    # pattern): when()-guarded moment sums + a per-key out-of-envelope
    # flag — one corpus scan, identical sums on in-envelope data, no
    # ANSI overflow on the guarded rows.
    ok = ~beyond(lim - 1, px, py)
    agg = (df.groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n_pts"),
                F.sum(F.when(ok, px)).cast("long").alias("sum_x"),
                F.sum(F.when(ok, py)).cast("long").alias("sum_y"),
                F.sum(F.when(ok, px * px)).cast("long").alias("_sxx"),
                F.sum(F.when(ok, py * py)).cast("long").alias("_syy"),
                F.sum(F.when(ok, px * py)).cast("long").alias("_sxy"),
                F.max(F.when(ok, 0).otherwise(1)).alias("_oob")))
    agg = agg.persist()
    try:
        require(agg, (
            F.max("_oob"), bool,
            "directional_stats: |coordinate| >= 2^15 — the second-"
            "moment products could breach int64; rescale upstream"), (
            F.max("n_pts"), lambda nmax: nmax > lim,
            lambda nmax: f"directional_stats: a key holds {nmax} points "
                         f"(> 2^15); sub-key the entity"))
        n = F.col("n_pts")
        out = agg.select(
            *keys, "n_pts", "sum_x", "sum_y",
            (n * F.col("_sxx") - F.col("sum_x") * F.col("sum_x"))
            .alias("sxx_num"),
            (n * F.col("_syy") - F.col("sum_y") * F.col("sum_y"))
            .alias("syy_num"),
            (n * F.col("_sxy") - F.col("sum_x") * F.col("sum_y"))
            .alias("sxy_num"))
        out = out.localCheckpoint(eager=True)
    finally:
        agg.unpersist()
    return out


def mann_kendall(df: DataFrame, keys: Sequence[str], t_col: str,
                 v_col: str, max_n: int = 1024) -> DataFrame:
    """A63 — Mann–Kendall trend test, exact: per key over the series
    ordered by `t_col`, the S statistic Σ_{i<j} sign(v_j − v_i) and
    the tie-corrected variance numerator

      var18_num = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)

    (Var(S) = var18_num/18 exactly; z is a one-scalar driver-side
    computation downstream) — the standard monotone-trend test in
    environmental and spatial statistics, the significance companion
    of A46's Theil–Sen slope, every emitted number an exact BIGINT.
    Duplicate timestamps per key are REJECTED with a raise (sign
    pairs between simultaneous observations are ill-defined in the
    test's derivation).

    Shape: the pair surface is PER-KEY O(n²) BY DESIGN — a trend
    series is bucket-count-sized, not corpus-sized, and the honest
    envelope is n <= max_n (default 1024, ENFORCED off the key-sized
    count agg; 2^20 pair rows per key worst-case) — the same
    documented small-key contract as A47's rect_union_area; series
    longer than that should be re-bucketed upstream.  The pair join
    is keyed, so distinct keys parallelize perfectly; tie groups come
    from one (key, value) count agg.  n(n−1)(2n+5) < 2⁶² holds for
    every n <= 2²⁰, far above the enforced cap.
    """
    keys = list(keys)
    d = df.select(*keys, F.col(t_col).cast("long").alias("_t"),
                  F.col(v_col).cast("long").alias("_v"))
    nagg = (d.groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("n_pts"),
                 F.countDistinct("_t").alias("_nt")))
    nagg = nagg.persist()
    try:
        require(nagg, (
            F.bool_or(F.col("n_pts") > F.col("_nt")), bool,
            "mann_kendall: duplicate timestamps within a key — "
            "sign pairs between simultaneous observations are "
            "ill-defined; aggregate per bucket upstream"), (
            F.max("n_pts"), lambda nmax: nmax > int(max_n),
            lambda nmax: f"mann_kendall: a key holds {nmax} observations "
                         f"(> max_n={max_n}) — the per-key pair surface "
                         f"is O(n²) by design; re-bucket the series "
                         f"upstream"))
        a = d.select(*keys, F.col("_t").alias("_ta"),
                     F.col("_v").alias("_va"))
        b = d.select(*keys, F.col("_t").alias("_tb"),
                     F.col("_v").alias("_vb"))
        pairs = (a.join(b, keys) if keys else a.crossJoin(b)) \
            .filter(F.col("_ta") < F.col("_tb"))
        sagg = (pairs.groupBy(*keys)
                .agg(F.sum(F.signum(F.col("_vb") - F.col("_va"))
                           .cast("long")).alias("s_stat")))
        ties = (d.groupBy(*keys, "_v")
                .agg(F.count(F.lit(1)).cast("long").alias("_tg"))
                .groupBy(*keys)
                .agg(F.sum(F.col("_tg") * (F.col("_tg") - 1)
                           * (2 * F.col("_tg") + 5))
                     .cast("long").alias("_tiesum")))
        # left joins (a 1-observation key has NO pairs -> sagg misses
        # it); keys=[] rides a constant join key so nothing is dropped
        base = nagg.drop("_nt")
        jk = keys if keys else ["_k"]
        if not keys:
            base = base.withColumn("_k", F.lit(1))
            sagg = sagg.withColumn("_k", F.lit(1))
            ties = ties.withColumn("_k", F.lit(1))
        for x in (sagg, ties):
            base = base.join(x, jk, "left")
        n = F.col("n_pts")
        out = base.select(
            *keys, "n_pts",
            F.coalesce(F.col("s_stat"), F.lit(0).cast("long"))
            .alias("s_stat"),
            (n * (n - 1) * (2 * n + 5) - F.col("_tiesum"))
            .alias("var18_num"))
        out = out.localCheckpoint(eager=True)
    finally:
        nagg.unpersist()
    return out


def heading_sectors(df: DataFrame, keys: Sequence[str],
                    order: Sequence[str], x_col: str,
                    y_col: str) -> DataFrame:
    """A64 — movement-direction distribution: classify every
    consecutive step of each key's trace into one of NINE exact
    heading classes — the 4 cardinal sectors (strict dominant axis),
    the 4 exact diagonals (|dx| = |dy|), and stationary (dx = dy = 0)
    — and emit per (key, sector) the exact step count plus per key
    the dominant sector (max count, ties to the smallest sector id).
    Every decision is an integer sign or magnitude comparison — no
    atan2, no float, so the distribution is bit-portable; the
    boundary rule (diagonal iff EXACTLY |dx| = |dy|) is part of the
    contract, not an implementation accident.  Sector ids: 0 stay,
    1 E, 2 NE, 3 N, 4 NW, 5 W, 6 SW, 7 S, 8 SE.

    With A57 (how far), A58 (how long the jumps) and A59 (how
    concentrated), this completes the per-entity movement profile:
    which WAY.  Shape: one per-key ordered lag window, a map-side
    CASE tree, one combinable (key, sector) count, and the dominant
    pick as a struct-min agg over (-n, sector) — two shrinking
    exchanges, no window beyond the lag.  Keys with < 2 points emit
    nothing; sectors with zero steps are absent (the distribution is
    sparse by nature; callers densify against the 9-row literal if
    needed).
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(*order)
    px = F.col(x_col).cast("long")
    py = F.col(y_col).cast("long")
    dx = px - F.lag(px).over(w)
    dy = py - F.lag(py).over(w)
    adx, ady = F.abs(dx), F.abs(dy)
    sector = (F.when(dx.isNull(), None)
              .when((dx == 0) & (dy == 0), 0)
              .when((adx == ady) & (dx > 0) & (dy > 0), 2)
              .when((adx == ady) & (dx < 0) & (dy > 0), 4)
              .when((adx == ady) & (dx < 0) & (dy < 0), 6)
              .when((adx == ady) & (dx > 0) & (dy < 0), 8)
              .when((adx > ady) & (dx > 0), 1)
              .when((adx > ady) & (dx < 0), 5)
              .when(dy > 0, 3)
              .otherwise(7)).cast("long")
    steps = (df.select(*keys, sector.alias("_sec"))
             .filter(F.col("_sec").isNotNull()))
    cnt = (steps.groupBy(*keys, "_sec")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    dom = (cnt.groupBy(*keys)
           .agg(F.min(F.struct((-F.col("n")).alias("_neg"),
                               F.col("_sec"))).alias("_d"),
                F.sum("n").cast("long").alias("n_steps")))
    dom = dom.select(*keys, F.col("_d._sec").alias("dom_sector"),
                     "n_steps")
    return (cnt.join(dom, keys) if keys else cnt.crossJoin(dom)) \
        .select(*keys, F.col("_sec").alias("sector"), "n",
                "dom_sector", "n_steps")
