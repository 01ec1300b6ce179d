"""Hypothesis-testing operators (SURVEY.md §2.4 A41-A43).

The experiment-analysis trio every product-analytics stack ships: the
two-proportion z-test (conversion A/B tests), the chi-square test of
independence (categorical association), and Welch's unequal-variance
t-test (metric A/B tests).  All three follow the engine's bit-portable
contract: the SUFFICIENT STATISTICS are exact int64 aggregates (counts,
sums, sums of squares — engine-independent by construction) and every
float statistic is ONE FIXED IEEE-754 tree over them (each +,−,×,÷,sqrt
correctly rounded, so any engine replaying the same tree produces the
same bits — the same argument as ops.autocorr_lag / tiles.hotspot_gi).

100-TB shape: each operator is one combinable map-side-partial aggregate
over the corpus (conditional agg for the variant pivot), with all float
math AFTER the reduction on keys-sized tables — nothing but the exact
counters ever crosses an exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .envelope import require, wide, wide_abs

__all__ = ["two_proportion_ztest", "chi2_independence", "welch_ttest",
           "mann_whitney_u", "spearman_rho", "ks_2samp"]


def _d(c: Column) -> Column:
    return c.cast("double")


def two_proportion_ztest(df: DataFrame, keys: Sequence[str],
                         variant_col: str, success_col: str,
                         variant_a: str, variant_b: str) -> DataFrame:
    """A41 — pooled two-proportion z-test per experiment key: rows are
    trials, `success_col` is 0/1, and the two arms are the rows whose
    `variant_col` equals `variant_a` / `variant_b` (other variants are
    ignored — multi-arm tables test pairwise).  Emits the exact BIGINT
    evidence (n_a, x_a, n_b, x_b) plus p_a, p_b and

        z = (p_a − p_b) / sqrt( p·(1−p) · (1/n_a + 1/n_b) )

    with p the pooled rate (x_a+x_b)/(n_a+n_b) — one fixed IEEE tree
    over the exact counts, so the doubles are bit-portable.  z is NULL
    when either arm is empty or the pooled variance is zero (p ∈ {0,1});
    empty-arm keys still ride with their evidence.

    100-TB shape: ONE combinable conditional aggregate (count/sum with
    map-side partials); every float op happens after the reduction on
    the keys-sized table.  No joins, no windows.
    """
    v, s = F.col(variant_col), F.col(success_col).cast("long")
    is_a, is_b = v == F.lit(variant_a), v == F.lit(variant_b)
    g = (df.filter(is_a | is_b)
         .groupBy(*keys)
         .agg(F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
              F.sum(F.when(is_a, s).otherwise(0)).cast("long").alias("x_a"),
              F.sum(F.when(is_b, 1).otherwise(0)).cast("long").alias("n_b"),
              F.sum(F.when(is_b, s).otherwise(0)).cast("long")
              .alias("x_b")))
    na, xa = F.col("n_a"), F.col("x_a")
    nb, xb = F.col("n_b"), F.col("x_b")
    # divisors clamped with greatest(., 1) BEFORE the cast: ANSI mode
    # raises DIVIDE_BY_ZERO even inside an un-taken when() branch once
    # common-subexpression elimination hoists the division, and every
    # guard below only passes rows where the clamp is the identity —
    # so the emitted doubles are unchanged.
    cna, cnb = _d(F.greatest(na, F.lit(1))), _d(F.greatest(nb, F.lit(1)))
    p_a = F.when(na > 0, _d(xa) / cna)
    p_b = F.when(nb > 0, _d(xb) / cnb)
    pool = _d(xa + xb) / _d(F.greatest(na + nb, F.lit(1)))
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / cna + F.lit(1.0) / cnb))
    safe_se = F.when(se > 0, se).otherwise(F.lit(1.0))
    z = F.when((na > 0) & (nb > 0) & (se > 0),
               (_d(xa) / cna - _d(xb) / cnb) / safe_se)
    return g.select(*keys, "n_a", "x_a", "n_b", "x_b",
                    p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z"))


def chi2_independence(df: DataFrame, row_col: str,
                      col_col: str) -> DataFrame:
    """A42 — chi-square test of independence over the (row_col, col_col)
    contingency table.  Emits ONE ROW PER CELL: the exact BIGINT
    evidence (observed o, row total R, column total C — with the grand
    total N folded into the float trees as a driver-scalar literal) plus

        expected = (R·C) / N
        contrib  = (o·N − R·C)² / (N·R·C)

    — the per-cell (o−e)²/e term cleared of fractions so its numerator
    root o·N − R·C is an EXACT int64 that also fits a double exactly
    (ENFORCED: N < 2²⁶ ⇒ |o·N − R·C| ≤ N² < 2⁵²); the χ² statistic is
    the consumer-side sum of `contrib` (a float sum's order is no
    cross-engine contract, so the engine pins the per-cell terms — each
    one a fixed IEEE tree — and leaves the one commutative-in-practice
    reduction to the caller, documented).

    100-TB shape: one combinable cell-count aggregate (the corpus never
    rides further), two category-sized marginal aggregates joined back
    (broadcast-sized by definition — categories, not rows), N as a
    driver scalar literal, float math map-only on the cell table.
    """
    cnt = (df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
           .agg(F.count(F.lit(1)).cast("long").alias("o")))
    cnt = cnt.persist()
    try:
        n, = require(cnt, (
            F.sum("o"), lambda n: n >= (1 << 26),
            lambda n: f"chi2_independence: N={n} breaches the exact-double "
                      f"envelope (|o*N - R*C| <= N^2 must stay < 2^52; "
                      f"N < 2^26) — pre-aggregate or sample"))
        n = int(n or 0)
        rowt = cnt.groupBy("r").agg(F.sum("o").cast("long").alias("rt"))
        colt = cnt.groupBy("c").agg(F.sum("o").cast("long").alias("ct"))
        j = cnt.join(rowt, "r").join(colt, "c")
        d = _d(F.col("o") * F.lit(n) - F.col("rt") * F.col("ct"))
        den = _d(F.lit(n)) * _d(F.col("rt")) * _d(F.col("ct"))
        out = j.select(
            "r", "c", "o",
            F.col("rt").alias("row_total"), F.col("ct").alias("col_total"),
            ((_d(F.col("rt")) * _d(F.col("ct"))) / _d(F.lit(n)))
            .alias("expected"),
            F.when(den > 0, d * d / den).alias("contrib"))
        out = out.localCheckpoint(eager=True)
    finally:
        cnt.unpersist()
    return out


def welch_ttest(df: DataFrame, keys: Sequence[str], variant_col: str,
                val_col: str, variant_a: str, variant_b: str) -> DataFrame:
    """A43 — Welch's unequal-variance t-test per experiment key over an
    INTEGER metric column (floor-cents, token counts, ...).  Emits the
    exact BIGINT evidence per arm (n, s = Σx, ss = Σx²) plus the Welch
    statistic and degrees of freedom as fixed IEEE trees:

        m  = s/n          v = (ss − s·(s/n)) / (n−1)
        q  = v_a/n_a + v_b/n_b        t = (m_a − m_b) / sqrt(q)
        df = q² / ( (v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1) )

    t and df are NULL when either arm has n < 2, when q ≤ 0 (constant
    data — rounding can land an exact-zero variance at a tiny negative,
    so the guard is on q, evaluated identically by any IEEE engine), or
    when the df denominator is 0.  Evidence rows still ride.

    Overflow envelope ENFORCED with a raise (post-agg driver check on
    the keys-sized table, the autocorr_lag discipline): per key and arm,
    n·max|x| < 2³¹ — which bounds s below 2³¹ and ss ≤ n·max² < 2⁶¹.

    100-TB shape: ONE combinable conditional aggregate (8 longs per key
    cross the exchange); float math after the reduction; the envelope
    check is a 1-row driver scalar off the already-aggregated table.
    """
    v = F.col(variant_col)
    x = F.col(val_col).cast("long")
    is_a, is_b = v == F.lit(variant_a), v == F.lit(variant_b)

    def arm(flag: Column, tag: str) -> list[Column]:
        return [
            F.sum(F.when(flag, 1).otherwise(0)).cast("long")
            .alias(f"n_{tag}"),
            F.sum(F.when(flag, x).otherwise(0)).cast("long")
            .alias(f"s_{tag}"),
            F.sum(F.when(flag, x * x).otherwise(0)).cast("long")
            .alias(f"ss_{tag}"),
            F.max(F.when(flag, wide_abs(x))).alias(f"_mx_{tag}"),
        ]

    g = (df.filter(is_a | is_b).groupBy(*keys)
         .agg(*arm(is_a, "a"), *arm(is_b, "b")))
    # checked before the persist, whose aggregates could overflow first
    require(g, (
        F.max(F.greatest(*(wide(f"n_{t}") * F.coalesce(f"_mx_{t}", F.lit(0))
                           for t in "ab"))),
        lambda worst: worst >= (1 << 31),
        lambda worst: f"welch_ttest: n*max|x| = {worst} breaches the "
                      f"int64 envelope (< 2^31 per key/arm); rescale the "
                      f"metric"))
    g = g.persist()
    try:

        # divisors clamped with greatest(., 1) BEFORE the cast: ANSI
        # mode raises DIVIDE_BY_ZERO even inside an un-taken when()
        # branch once common-subexpression elimination hoists the
        # division past the short-circuit; every guard below admits
        # only rows where the clamp is the identity (n >= 2), so the
        # emitted doubles are unchanged.
        def tree(tag: str) -> tuple[Column, Column, Column, Column]:
            n = F.col(f"n_{tag}")
            cn = _d(F.greatest(n, F.lit(1)))
            cn1 = _d(F.greatest(n - 1, F.lit(1)))
            s, ss = _d(F.col(f"s_{tag}")), _d(F.col(f"ss_{tag}"))
            m = s / cn
            var = (ss - s * (s / cn)) / cn1
            return n, m, var, cn

        na, ma, va, cna = tree("a")
        nb, mb, vb, cnb = tree("b")
        qa, qb = va / cna, vb / cnb
        q = qa + qb
        ok = (na >= 2) & (nb >= 2)
        safe_q = F.when(q > 0, q).otherwise(F.lit(1.0))
        t = F.when(ok & (q > 0), (ma - mb) / F.sqrt(safe_q))
        dden = (qa * qa / _d(F.greatest(na - 1, F.lit(1)))
                + qb * qb / _d(F.greatest(nb - 1, F.lit(1))))
        safe_dden = F.when(dden > 0, dden).otherwise(F.lit(1.0))
        dfw = F.when(ok & (q > 0) & (dden > 0), q * q / safe_dden)
        out = g.select(*keys, "n_a", "s_a", "ss_a", "n_b", "s_b", "ss_b",
                       t.alias("t"), dfw.alias("df_welch"))
        out = out.localCheckpoint(eager=True)
    finally:
        g.unpersist()
    return out


def mann_whitney_u(df: DataFrame, keys: Sequence[str], variant_col: str,
                   val_col: str, variant_a: str,
                   variant_b: str) -> DataFrame:
    """A44 — Mann-Whitney U (Wilcoxon rank-sum) test per experiment key
    over an INTEGER metric column.  The rank arithmetic is kept EXACT by
    working in DOUBLED midranks: for a value v with c_lt strictly-smaller
    rows and c_eq rows tied at v, midrank(v) = c_lt + (c_eq+1)/2, so

        2·midrank(v) = 2·c_lt + c_eq + 1        (always an integer).

    Emitted evidence per key (all exact BIGINT, engine-independent):
    n_a, n_b, `u2_a` = 2·U_A = Σ_A 2·midrank − n_a·(n_a+1), and the tie
    term T = Σ_ties (t³ − t).  The normal-approximation statistic

        z = (U_A − n_a·n_b/2)
            / sqrt( n_a·n_b/12 · ( (n+1) − T/(n·(n−1)) ) )

    is ONE fixed IEEE tree over those integers (NULL when either arm is
    empty or the tie-corrected variance is ≤ 0, e.g. all values equal).

    Overflow envelope ENFORCED with a raise: n = n_a+n_b < 2²⁰ per key
    ⇒ every doubled rank ≤ 2n+1 < 2²¹, Σ c·(2·midrank) ≤ n·(2n+1) < 2⁴²,
    and T ≤ n³ < 2⁶⁰ — all int64-safe with room to spare.

    100-TB shape: the corpus collapses to one (key, value)-grained count
    aggregate (map-side combinable — raw rows never ride past it); the
    cumulative-rank window and the final per-key reduction both run on
    that distinct-value table, which for real metrics is orders of
    magnitude smaller than the corpus.
    """
    v = F.col(variant_col)
    x = F.col(val_col).cast("long")
    is_a, is_b = v == F.lit(variant_a), v == F.lit(variant_b)
    cnt = (df.filter(is_a | is_b)
           .groupBy(*keys, x.alias("v"))
           .agg(F.sum(F.when(is_a, 1).otherwise(0)).cast("long")
                .alias("c_a"),
                F.sum(F.when(is_b, 1).otherwise(0)).cast("long")
                .alias("c_b")))
    w_lt = (Window.partitionBy(*keys).orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1))
    c = F.col("c_a") + F.col("c_b")
    ranked = cnt.select(
        *keys, "c_a", "c_b",
        (F.lit(2) * F.coalesce(F.sum(c).over(w_lt), F.lit(0))
         + c + F.lit(1)).alias("mid2"),
        (c * c * c - c).alias("tie3"))
    g = (ranked.groupBy(*keys)
         .agg(F.sum("c_a").cast("long").alias("n_a"),
              F.sum("c_b").cast("long").alias("n_b"),
              F.sum(F.col("c_a") * F.col("mid2")).cast("long").alias("r2_a"),
              F.sum("tie3").cast("long").alias("tie_term")))
    # checked before the persist, whose aggregates could overflow first
    require(g, (
        F.max(wide("n_a") + wide("n_b")), lambda n: n >= (1 << 20),
        lambda n: f"mann_whitney_u: n={n} rows in one key breaches the "
                  f"exact-rank envelope (n < 2^20 per key) — "
                  f"pre-aggregate or bucket the metric"))
    g = g.persist()
    try:
        na, nb = F.col("n_a"), F.col("n_b")
        u2a = (F.col("r2_a") - na * (na + 1)).alias("u2_a")
        n = na + nb
        dna, dnb, dn = _d(na), _d(nb), _d(n)
        # divisors clamped with greatest(., 1) BEFORE use: ANSI mode
        # raises DIVIDE_BY_ZERO even inside an un-taken when() branch
        # once CSE hoists the division; the guards below only admit
        # rows where the clamp is the identity (both arms non-empty ⇒
        # n ≥ 2), so the emitted doubles are unchanged.
        cnn1 = _d(F.greatest(n * (n - 1), F.lit(1)))
        sig2 = (dna * dnb / F.lit(12.0)
                * ((dn + F.lit(1.0)) - _d(F.col("tie_term")) / cnn1))
        safe_sig = F.when(sig2 > 0, F.sqrt(sig2)).otherwise(F.lit(1.0))
        z = F.when((na > 0) & (nb > 0) & (sig2 > 0),
                   (_d(F.col("r2_a") - na * (na + 1)) / F.lit(2.0)
                    - dna * dnb / F.lit(2.0)) / safe_sig)
        out = g.select(*keys, "n_a", "n_b", u2a, "tie_term", z.alias("z"))
        out = out.localCheckpoint(eager=True)
    finally:
        g.unpersist()
    return out


def spearman_rho(df: DataFrame, keys: Sequence[str], x_col: str,
                 y_col: str) -> DataFrame:
    """A45 — Spearman rank correlation per key over two INTEGER columns:
    Pearson correlation of the midranks, computed EXACTLY by working in
    CENTERED DOUBLED midranks.  With min_rank the ANSI rank() (1 + count
    of strictly-smaller rows) and c_eq the tie-group size,

        2·midrank = 2·min_rank + c_eq − 1,
        d = 2·midrank − (n+1)          (centered: Σd = 0, |d| ≤ n−1),

    so  rho = Σ d_x·d_y / sqrt( Σd_x² · Σd_y² )  — the (n·Σxy − ΣxΣy)
    form with the cross-moment terms vanishing identically because both
    rank vectors share the exact mean (n+1)/2.  Evidence per key: n and
    the exact BIGINT moments sxy, sxx, syy; rho is one fixed IEEE tree
    over them (NULL when n < 2 or either column is constant).

    Overflow envelope ENFORCED with a raise: n < 2²⁰ per key ⇒
    |d| ≤ n < 2²⁰, |Σ d_x·d_y| ≤ n³ < 2⁶⁰ — int64-safe.

    100-TB shape: two rank windows + one tie-count window per axis over
    the SAME per-key partitioning (a single exchange feeds all of them),
    then one map-side-combinable moment aggregate; only (key, 4 longs)
    rows survive.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.select(*keys, x.alias("x"), y.alias("y"))
    wk = Window.partitionBy(*keys)
    n_w = F.count(F.lit(1)).over(wk)

    def cdrank(col: str) -> Column:
        mr = F.rank().over(wk.orderBy(col))
        ceq = F.count(F.lit(1)).over(Window.partitionBy(*keys, col))
        return F.lit(2) * mr + ceq - F.lit(1) - (n_w + F.lit(1))

    r = base.select(*keys,
                    cdrank("x").cast("long").alias("dx"),
                    cdrank("y").cast("long").alias("dy"))
    g = (r.groupBy(*keys)
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
              F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
              F.sum(F.col("dy") * F.col("dy")).cast("long")
              .alias("syy")))
    # checked before the persist, whose aggregates could overflow first
    require(g, (
        F.max("n"), lambda n: n >= (1 << 20),
        lambda n: f"spearman_rho: n={n} rows in one key breaches the "
                  f"exact-rank envelope (n < 2^20 per key) — "
                  f"pre-aggregate or sample"))
    g = g.persist()
    try:
        den2 = _d(F.col("sxx")) * _d(F.col("syy"))
        safe_den = F.when(den2 > 0, F.sqrt(den2)).otherwise(F.lit(1.0))
        rho = F.when((F.col("n") >= 2) & (den2 > 0),
                     _d(F.col("sxy")) / safe_den)
        out = g.select(*keys, "n", "sxy", "sxx", "syy", rho.alias("rho"))
        out = out.localCheckpoint(eager=True)
    finally:
        g.unpersist()
    return out


def ks_2samp(df: DataFrame, keys: Sequence[str], variant_col: str,
             val_col: str, variant_a: str, variant_b: str) -> DataFrame:
    """A46 — two-sample Kolmogorov-Smirnov statistic per experiment key
    over an INTEGER metric column:  D = max_v |F_A(v) − F_B(v)|, with
    the supremum taken over the pooled distinct values (sufficient: the
    ECDF difference is piecewise-constant between them).  The statistic
    is computed as an EXACT RATIONAL with the fraction cleared:

        d_num = max_v | n_b·cumA(v) − n_a·cumB(v) |   (exact BIGINT),
        D     = d_num / (n_a·n_b)                     (one IEEE divide).

    Evidence per key: n_a, n_b, d_num — engine-independent integers; D
    is NULL when either arm is empty.

    Overflow envelope ENFORCED with a raise: n_a, n_b < 2³¹ per key ⇒
    |n_b·cumA − n_a·cumB| ≤ n_a·n_b < 2⁶² — int64-safe.  (This is the
    loosest envelope in the suite: KS needs no rank powers.)

    100-TB shape: the corpus collapses to one (key, value)-grained count
    aggregate; the cumulative window and the final max both run on that
    distinct-value table, and the max is map-side combinable.
    """
    v = F.col(variant_col)
    x = F.col(val_col).cast("long")
    is_a, is_b = v == F.lit(variant_a), v == F.lit(variant_b)
    cnt = (df.filter(is_a | is_b)
           .groupBy(*keys, x.alias("v"))
           .agg(F.sum(F.when(is_a, 1).otherwise(0)).cast("long")
                .alias("c_a"),
                F.sum(F.when(is_b, 1).otherwise(0)).cast("long")
                .alias("c_b")))
    wk = Window.partitionBy(*keys)
    w_cum = wk.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = wk.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    stepped = cnt.select(
        *keys,
        F.sum("c_a").over(w_cum).alias("ca_cum"),
        F.sum("c_b").over(w_cum).alias("cb_cum"),
        F.sum("c_a").over(w_all).alias("na"),
        F.sum("c_b").over(w_all).alias("nb"))
    g = (stepped.groupBy(*keys)
         .agg(F.max("na").cast("long").alias("n_a"),
              F.max("nb").cast("long").alias("n_b"),
              F.max(F.abs(F.col("nb") * F.col("ca_cum")
                          - F.col("na") * F.col("cb_cum")))
              .cast("long").alias("d_num")))
    # checked before the persist, whose aggregates could overflow first
    require(g, (
        F.max(F.greatest("n_a", "n_b")), lambda n: n >= (1 << 31),
        lambda n: f"ks_2samp: arm size {n} breaches the int64 envelope "
                  f"(n < 2^31 per key/arm) — pre-aggregate or sample"))
    g = g.persist()
    try:
        prod = _d(F.greatest(F.col("n_a") * F.col("n_b"), F.lit(1)))
        d = F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                   _d(F.col("d_num")) / prod)
        out = g.select(*keys, "n_a", "n_b", "d_num", d.alias("d"))
        out = out.localCheckpoint(eager=True)
    finally:
        g.unpersist()
    return out
