"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Operator ids (W2, A1, F3, ...) refer to SURVEY.md §2.  Queries whose math
DuckDB can replay exactly carry oracles — including the J4 ray-cast PIP
join, the X3 interpolation grid, and the fused F3+G1+W2+A1 prep kernel
(G1's jump fixpoint unrolled as 16 chained SQL filter rounds).  The truly
non-SQL-expressible kernels (X6 Hilbert cells, A2 KDE, W5 episode fixpoint,
xxhash/rng-seeded sketches) are rows-only here and golden-tested in tests/
against an independent single-threaded oracle.

Float-output discipline: every non-exact aggregate is ROUND(_, 6) on BOTH
sides; exact float ops (epoch differences, least/greatest) are left raw.
All integer outputs are cast to BIGINT on both sides so schemas line up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine import ops, trace_prep
from engine.config import DEFAULT
from engine.datagen import web_pages_from_events
from engine.functions import epoch_s


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sessionized(ev: DataFrame) -> DataFrame:
    return ops.sessionize(ev, ["user_id"], "ts", 3600.0,
                          order=["ts", "event_id"])


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: web_pages (derived from events @ sf0.001) -> full pipeline
    (trace prep -> KDE locations -> kNN assignment -> episode segmentation);
    returns the episode table (SURVEY.md §3.2 E1')."""
    from engine.episodes import build_episodes, knn_assign
    from engine.locations import detect_locations
    events = _t(spark, "/root/testdata/sf0.001", "events")
    pages = web_pages_from_events(events)
    gp = trace_prep.geopoints(pages, DEFAULT).persist()
    locs = detect_locations(gp, DEFAULT)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    return eps.orderBy("host", "seq")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_w2_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = _sessionized(ev)
    return (s.groupBy("user_id", F.col("subset_id").cast("long").alias("subset_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.max(epoch_s(F.col("ts")))
                         - F.min(epoch_s(F.col("ts"))), 6).alias("span_s")))


def q_a1_time_weights(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = _sessionized(ev)
    w = ops.time_weights(s, ["user_id", "subset_id"], "ts",
                         order=["ts", "event_id"])
    return w.select("event_id", F.round("weight_s", 6).alias("weight_s"))


def q_f3_seq_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    d = ops.seq_dedup(ev, ["user_id"], ["ts", "event_id"], ["value"])
    return d.select("event_id", "user_id", "value")


def q_w3_change_segments(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    seg = ops.change_segments(ev, ["user_id"], ["ts", "event_id"], "event_type")
    spans = ops.segment_spans(seg, ["user_id"], "segment_id", "ts", "event_type")
    return spans.select(
        "user_id", F.col("segment_id").cast("long").alias("segment_id"),
        epoch_s(F.col("start_ts")).alias("start_s"),
        epoch_s(F.col("end_ts")).alias("end_s"),
        "event_type", F.col("n_rows").cast("long").alias("n_rows"))


def q_j3_interval_overlap(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    seg = ops.change_segments(ev, ["user_id"], ["ts", "event_id"], "event_type")
    spans = (ops.segment_spans(seg, ["user_id"], "segment_id", "ts", "event_type")
             .select("user_id", "segment_id", "start_ts", "end_ts"))
    ses = (_sessionized(ev).groupBy("user_id", "subset_id")
           .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")))
    j = ops.interval_overlap_join(spans, ses, ["user_id"])
    return j.select("user_id",
                    F.col("segment_id").cast("long").alias("segment_id"),
                    F.col("subset_id").cast("long").alias("subset_id"),
                    F.round("overlap_s", 6).alias("overlap_s"))


def q_j3_interval_binned(spark, sf_dir):
    """J3 via the binned range join (ops.interval_overlap_join_binned) —
    the low-selectivity-key scale path: intervals explode into the time
    bins they touch, the join equi-keys on (user, bin) so per-key
    quadratic work collapses to per-bin work, and each pair survives
    only in its canonical first-intersection bin (map-side dedup, no
    distinct).  Output is identical to the plain J3 join, so this query
    shares q_j3_interval_overlap's exact oracle verbatim."""
    ev = _t(spark, sf_dir, "events")
    seg = ops.change_segments(ev, ["user_id"], ["ts", "event_id"],
                              "event_type")
    spans = (ops.segment_spans(seg, ["user_id"], "segment_id", "ts",
                               "event_type")
             .select("user_id", "segment_id", "start_ts", "end_ts"))
    ses = (_sessionized(ev).groupBy("user_id", "subset_id")
           .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")))
    j = ops.interval_overlap_join_binned(spans, ses, ["user_id"],
                                         bin_s=1800)
    return j.select("user_id",
                    F.col("segment_id").cast("long").alias("segment_id"),
                    F.col("subset_id").cast("long").alias("subset_id"),
                    F.round("overlap_s", 6).alias("overlap_s"))


def q_exact_quantiles(spark, sf_dir):
    """EXACT per-group quantiles (p25/p50/p90) — the sorted-rank
    complement to the GK sketch (which carries an error gate): Spark's
    percentile() and DuckDB's quantile_cont() implement the same linear
    interpolation on the sorted multiset (verified bit-identical incl.
    fractional ranks), and floor-cents int64 inputs make the sorted
    multiset itself engine-independent, so the whole row is value-hash
    exact.  Exact percentile sorts within each group — fine at group
    granularity; corpus-wide quantiles at 100 TB use the GK path."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    return (ev.groupBy("event_type")
            .agg(F.expr("percentile(floor(value * 100), array(0.25, 0.5,"
                        " 0.9))").alias("_q"),
                 F.count(F.lit(1)).alias("n"))
            .select("event_type",
                    F.col("_q")[0].alias("p25"),
                    F.col("_q")[1].alias("p50"),
                    F.col("_q")[2].alias("p90"), "n")
            .orderBy("event_type"))


def q_x8_html_extract(spark, sf_dir):
    """HTML -> text extraction under the north rule's byte-identical
    invariant, driver-visible: extract from the raw html bytes and
    compare BYTE-FOR-BYTE against the stored text column per url
    (matches_stored must be universally true; the md5 pins the bytes).
    The oracle rebuilds the html wrapper from the replayed page
    synthesis and runs the same Java∩RE2-safe extraction chain."""
    ev = _t(spark, sf_dir, "events")
    pages = web_pages_from_events(ev)
    from engine.text import html_to_text
    out = html_to_text(pages)
    return (out.select(
        "url",
        F.md5(F.col("extracted_text").cast("binary"))
        .alias("extracted_md5"),
        (F.col("extracted_text") == F.col("text")).alias("matches_stored"))
        .orderBy("url"))


def q_a6_group_totals(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 6).alias("total_value"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


def q_a7_daily_summary(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    kinds = ["click", "view", "purchase", "error", "signup"]
    aggs = [F.sum(F.when(F.col("event_type") == k, 1).otherwise(0))
            .cast("long").alias(f"n_{k}") for k in kinds]
    return (ev.groupBy("user_id", day)
            .agg(*aggs, F.round(F.sum("value"), 6).alias("total_value")))


def q_a9_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


def q_o2_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    top = ops.topk_per_group(ev.select("user_id", "event_id", "value"),
                             ["user_id"], "value", 3, tiebreak=["event_id"])
    return top.select("user_id", "event_id", "value")


def q_j6_asof_last_signup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sig = (ev.filter(F.col("event_type") == "signup")
           .groupBy("user_id", "ts").agg(F.max("value").alias("sig_value")))
    j = ops.asof_join(ev.select("user_id", "event_id", "ts"), sig,
                      ["user_id"], "ts", "ts", ["sig_value"])
    return j.select("event_id", F.round("sig_value", 6).alias("sig_value"))


def q_x5_extract_geopoints(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.extract_points(web_pages_from_events(ev), DEFAULT)
    return pts.select("url", "host", "lat", "lon", "acc_m")


def q_x3_interp_grid(spark, sf_dir):
    """X3 path interpolation + global raster binning, hash-checked end to
    end: consecutive same-host geopoints (<= gap_s apart) are interpolated
    into equal-mass sites every interpolation_step_m
    (trace_prep.interpolate_sites — the exact operator the tile pyramid
    consumes), then binned to a 0.002-degree lat/lon grid.  The grid key is
    plain floor() math so DuckDB can replay it exactly; the Hilbert-cell
    raster twin (tiles.cell_density) is golden-tested instead.  Output is
    integer site counts — exact across engines (site coords are pure IEEE
    +-*/ chains; n only depends on haversine via a ceil that sits ulps away
    from integer boundaries)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.extract_points(web_pages_from_events(ev), DEFAULT)
    w = Window.partitionBy("host").orderBy("warc_ts", "url")
    dt = epoch_s(F.lead("warc_ts").over(w)) - epoch_s(F.col("warc_ts"))
    nxt = pts.select(
        "host", "lat", "lon",
        F.lead("lat").over(w).alias("next_lat"),
        F.lead("lon").over(w).alias("next_lon"),
        F.when(dt <= F.lit(DEFAULT.gap_s), dt).alias("next_dt_s"),
        F.lit(0).alias("subset_id"))
    sites = trace_prep.interpolate_sites(nxt, DEFAULT)
    g = F.lit(0.002)
    return (sites.groupBy(
        F.floor(F.col("site_lat") / g).cast("long").alias("gx"),
        F.floor(F.col("site_lon") / g).cast("long").alias("gy"))
        .agg(F.count(F.lit(1)).alias("n_sites")))


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
                 .alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate — every predicate pushes to the parquet scan,
    one map-side-combined global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                     6).alias("revenue"),
             F.count(F.lit(1)).alias("n_rows")))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping-priority variant): 3-way join + agg + top-10 —
    exercises broadcast/SMJ strategy pick and deterministic top-k."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .join(c, o["o_custkey"] == c["c_custkey"]))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (j.groupBy("l_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
            .agg(F.round(rev, 6).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
            .limit(10))


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): 6-way join with the
    customer-nation == supplier-nation equality — join-reordering smoke."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    j = (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
         .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
               & (F.col("c_nationkey") == F.col("s_nationkey")))
         .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
         .join(r, F.col("n_regionkey") == F.col("r_regionkey")))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy("n_name").agg(F.round(rev, 6).alias("revenue"))


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): the one relational
    surface the suite didn't exercise — a CORRELATED EXISTS subquery.
    Written as literal SQL EXISTS (not a hand-rolled semi-join) so the
    query exercises Catalyst's decorrelation: RewriteCorrelatedScalar/
    RewritePredicateSubquery must turn it into a LeftSemi hash join with
    the correlated non-equi predicate (l_shipdate > o_orderdate + 60d)
    carried as the join condition — one scan of lineitem, NOT a re-scan
    per outer row (tests/test_plan_shape.py pins this).  The synthetic
    lineitem has no commitdate/receiptdate, so 'late' is expressed as
    shipping >60 days after the order date — same correlated shape."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tq4_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq4_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM tq4_orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM tq4_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        GROUP BY o_orderpriority
    """)


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the semi+anti
    COMBINATION — one correlated EXISTS and one correlated NOT EXISTS over
    the same table in one query block, plus two dimension equi-joins.
    Written as literal SQL so Catalyst's RewritePredicateSubquery must
    produce BOTH a LeftSemi and a LeftAnti hash join against lineitem
    (plan-pinned in tests/test_plan_shape.py) instead of per-row re-scans.
    The synthetic lineitem has no commitdate/receiptdate, so 'late' reuses
    Q4's rule (shipdate > orderdate + 60 days); the nation predicate is a
    deterministic ASCII range filter."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tq21_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq21_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("tq21_supplier")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("tq21_nation")
    return spark.sql("""
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM tq21_supplier s, tq21_lineitem l1, tq21_orders o, tq21_nation n
        WHERE s.s_suppkey = l1.l_suppkey
          AND o.o_orderkey = l1.l_orderkey
          AND o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (SELECT 1 FROM tq21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM tq21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate
                                                + INTERVAL 60 DAYS)
          AND s.s_nationkey = n.n_nationkey
          AND n.n_name < 'NATION_3'
        GROUP BY s_name
    """)


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    SCALAR subquery — the last subquery family the suite didn't exercise
    (Q4 = EXISTS, Q21 = EXISTS + NOT EXISTS).  Written as literal SQL so
    Catalyst's decorrelation (RewriteCorrelatedScalarSubquery) must turn
    the per-part average into ONE aggregate over lineitem joined back on
    l_partkey — a single extra scan, never a re-scan per outer row
    (plan-pinned in tests/test_plan_shape.py).  Bit-portability: synthetic
    l_quantity is integer-valued (1..50), so sum is exact in float64 under
    ANY accumulation order; avg is one IEEE division and the 0.2 factor
    one multiply — the correlated predicate is deterministic cross-engine.
    The final revenue sum is order-dependent and rounded to 6 (the Q1/Q3
    contract).  Synthetic part has no p_container; the dimension filter
    is brand + size range."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("tq17_part")
    return spark.sql("""
        SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_small
        FROM tq17_lineitem l, tq17_part p
        WHERE p.p_partkey = l.l_partkey
          AND p.p_brand = 'Brand#1'
          AND p.p_size < 15
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM tq17_lineitem l2
                              WHERE l2.l_partkey = p.p_partkey)
    """)


def _tpch_sql(spark, sf_dir, tables, sql, prefix):
    """Shared-text TPC-H runner: the SAME SQL string (with {table}
    placeholders) runs on Spark temp views here and verbatim on DuckDB
    as the oracle — dialect-common ANSI only."""
    for t in tables:
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{prefix}_{t}")
    return spark.sql(sql.format(**{t: f"{prefix}_{t}" for t in tables}))


_TPCH_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM {lineitem} l
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {nation} sn ON sn.n_nationkey = s.s_nationkey
JOIN {nation} cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""

_TPCH_Q9_SQL = """
SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS profit,
       CAST(count(*) AS BIGINT) AS n_rows
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(l.l_shipdate)
ORDER BY nation, o_year
"""

_TPCH_Q10_SQL = """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       n.n_name AS nation
FROM {customer} c
JOIN {orders} o ON o.o_custkey = c.c_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {nation} n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue_cents DESC, c.c_custkey
LIMIT 20
"""

_TPCH_Q12_SQL = """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""

_TPCH_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
         AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n_rows
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-07-01'
"""


_TPCH_Q8_SQL = """
SELECT year(o.o_orderdate) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share,
       CAST(count(*) AS BIGINT) AS n_rows
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {nation} cn ON cn.n_nationkey = c.c_nationkey
JOIN {region} r ON r.r_regionkey = cn.n_regionkey
JOIN {nation} sn ON sn.n_nationkey = s.s_nationkey
WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
GROUP BY year(o.o_orderdate) ORDER BY o_year
"""

_TPCH_Q11_SQL = """
WITH pr AS (
  SELECT l.l_partkey,
         CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS val_cents
  FROM {lineitem} l
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_5' GROUP BY l.l_partkey)
SELECT l_partkey AS p_partkey, val_cents FROM pr
WHERE val_cents > (SELECT sum(val_cents) FROM pr) * 0.001
ORDER BY val_cents DESC, p_partkey
"""

_TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS total_cents
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_cents
FROM {supplier} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
ORDER BY s.s_suppkey
"""

_TPCH_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 14, 20)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM {supplier}
                          WHERE s_name LIKE '%7%')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def q_tpch_q8(spark, sf_dir):
    """Q8 shape (national market share): an EIGHT-way join — nation
    entering twice, region reached through the customer side only —
    feeding a conditional-ratio aggregate per derived year; the widest
    join tree in the suite, round-6 float contract."""
    return _tpch_sql(spark, sf_dir,
                     ["lineitem", "part", "supplier", "orders", "customer",
                      "nation", "region"], _TPCH_Q8_SQL, "tq8")


def q_tpch_q11(spark, sf_dir):
    """Q11 shape (important stock): a grouped CTE filtered by an
    uncorrelated scalar aggregate OVER ITSELF (share > 0.1% of the
    total) — the self-referential scalar-threshold family; floor-cents
    int64 sums make both sides of the comparison order-independent (the
    0.001 multiply is one IEEE op on an exact integer, identical in both
    engines)."""
    return _tpch_sql(spark, sf_dir, ["lineitem", "supplier", "nation"],
                     _TPCH_Q11_SQL, "tq11")


def q_tpch_q15(spark, sf_dir):
    """Q15 shape (top supplier via revenue view): the view is consumed
    twice — once joined, once under max() as a scalar subquery; with
    floor-cents int64 revenue the max and the equality predicate are
    bit-portable, and ties (multiple top suppliers) would all emit,
    deterministically ordered."""
    return _tpch_sql(spark, sf_dir, ["lineitem", "supplier"],
                     _TPCH_Q15_SQL, "tq15")


def q_tpch_q16(spark, sf_dir):
    """Q16 shape (supplier count by part attrs, excluded suppliers):
    COUNT(DISTINCT) over a join with a NOT IN exclusion subquery —
    all-integer output with a deterministic total order."""
    return _tpch_sql(spark, sf_dir, ["lineitem", "part", "supplier"],
                     _TPCH_Q16_SQL, "tq16")


def q_tpch_q7(spark, sf_dir):
    """Q7 shape (volume shipping between two nations): the six-way join
    with the SAME dimension (nation) entering twice under different join
    keys and a symmetric nation-pair disjunction — round-6 float
    contract on revenue, integer counts."""
    return _tpch_sql(spark, sf_dir,
                     ["lineitem", "supplier", "orders", "customer",
                      "nation"], _TPCH_Q7_SQL, "tq7")


def q_tpch_q9(spark, sf_dir):
    """Q9 shape (product-line profit by nation and year): part-name LIKE
    filter driving a 4-way join grouped on a derived year (synthetic
    schema has no partsupp, so profit is discounted revenue — the join/
    group shape is what's under test)."""
    return _tpch_sql(spark, sf_dir,
                     ["lineitem", "part", "supplier", "nation"],
                     _TPCH_Q9_SQL, "tq9")


def q_tpch_q10(spark, sf_dir):
    """Q10 shape (returned-item revenue, top customers): revenue enters
    as floor-cents int64 so the ORDER BY ... LIMIT 20 prefix is
    bit-portable (floats could tie differently across engines; integers
    cannot, and c_custkey breaks exact ties)."""
    return _tpch_sql(spark, sf_dir,
                     ["customer", "orders", "lineitem", "nation"],
                     _TPCH_Q10_SQL, "tq10")


def q_tpch_q12(spark, sf_dir):
    """Q12 shape (priority CASE-aggregation over a join, date-windowed):
    all-integer output, date window pushed to the lineitem scan."""
    return _tpch_sql(spark, sf_dir, ["orders", "lineitem"],
                     _TPCH_Q12_SQL, "tq12")


def q_tpch_q14(spark, sf_dir):
    """Q14 shape (promo revenue share): two conditional sums and one
    division, round-6 contract; p_type='PROMO' exists verbatim in the
    synthetic part table."""
    return _tpch_sql(spark, sf_dir, ["lineitem", "part"],
                     _TPCH_Q14_SQL, "tq14")


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue under a DISJUNCTION of
    conjunctive bands): the one relational surface the suite hadn't
    exercised — an OR-of-ANDs predicate that references BOTH join sides,
    so it cannot move below the join wholesale; Catalyst must instead
    EXTRACT the side-local disjunctions ((brand, size) bands for part,
    quantity bands for lineitem) and push those through to each scan
    while the full residual stays on the join (plan-pinned).  Synthetic
    part has no p_container / l_shipmode; the bands use brand + size +
    quantity, preserving the shape.  Revenue rounds to 6 per the
    Q1/Q3/Q6 float contract; the row count is integer-exact."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq19_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("tq19_part")
    return spark.sql("""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM tq19_lineitem l, tq19_part p
        WHERE p.p_partkey = l.l_partkey
          AND ((p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
                AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
                AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 35
                AND l.l_quantity BETWEEN 20 AND 30))
    """)


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess stock of selected parts):
    NESTED uncorrelated INs — an IN whose subquery contains another IN
    plus a grouped HAVING threshold.  Catalyst must stack two LeftSemi
    joins (supplier <- aggregated lineitem <- part) with the aggregate
    evaluated ONCE (plan-pinned: three scans total, two LeftSemi, no
    re-execution per outer row).  Synthetic schema has no partsupp, so
    'availqty' becomes total shipped quantity per (supplier, part) —
    integer-valued, so the HAVING threshold is exact."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("tq20_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq20_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("tq20_part")
    return spark.sql("""
        SELECT s_suppkey, s_name
        FROM tq20_supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM tq20_lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM tq20_part
                                WHERE p_name LIKE '%gear%')
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > 100)
        ORDER BY s_suppkey
    """)


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): a correlated scalar
    subquery that itself contains a MULTI-WAY JOIN (lineitem x supplier
    x nation x region), equality-compared against the outer block — a
    structurally different decorrelation from Q17's single-table scalar
    avg: Catalyst must push the whole 4-table subquery through
    RewriteCorrelatedScalarSubquery into ONE aggregated join subtree
    keyed on p_partkey, then equi-join it back (plan-pinned: exactly one
    extra lineitem scan, no per-row re-scan).  The synthetic schema has
    no partsupp, so 'supply cost' is the minimum l_extendedprice a
    EUROPE supplier ever shipped that part for — the same
    min-over-joined-dims correlation.  Equality on l_extendedprice
    compares RAW parquet doubles (no arithmetic), so the predicate is
    bit-portable; DISTINCT collapses multi-lineitem ties; the ORDER BY
    covers a unique key so the LIMIT-100 prefix is deterministic."""
    for t in ("part", "supplier", "lineitem", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"tq2_{t}")
    return spark.sql("""
        SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
                        p.p_name, l.l_extendedprice AS min_price
        FROM tq2_part p, tq2_supplier s, tq2_lineitem l, tq2_nation n,
             tq2_region r
        WHERE p.p_partkey = l.l_partkey
          AND s.s_suppkey = l.l_suppkey
          AND p.p_size = 15
          AND s.s_nationkey = n.n_nationkey
          AND n.n_regionkey = r.r_regionkey
          AND r.r_name = 'EUROPE'
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice)
            FROM tq2_lineitem l2, tq2_supplier s2, tq2_nation n2,
                 tq2_region r2
            WHERE l2.l_partkey = p.p_partkey
              AND s2.s_suppkey = l2.l_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'EUROPE')
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
    """)


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): the one subquery
    COMBINATION the suite never exercised — an UNCORRELATED scalar
    aggregate subquery (the positive-balance average, computed once and
    broadcast as a literal-like filter) AND a correlated NOT EXISTS
    anti-join in the same WHERE clause, followed by a group-by.  The
    synthetic customer has no c_phone, so the 'country code' IN-list is
    over c_nationkey, and 'no orders in 7 years' becomes no orders since
    2001-01-01 (the tail ~7 months of the 1995-2001 order range, ~41%
    selectivity).  Bit-portability: balances enter every aggregate as
    floor-cents int64 (floor has no tie rule, unlike round), so the
    threshold is an exact integer sum with ONE IEEE division and the
    output sum is order-independent."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("tq22_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tq22_orders")
    return spark.sql("""
        SELECT c.c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS numcust,
               sum(CAST(floor(c.c_acctbal * 100) AS BIGINT))
                 AS totacctbal_cents
        FROM tq22_customer c
        WHERE c.c_nationkey IN (0, 3, 7, 11, 14, 17, 21)
          AND CAST(floor(c.c_acctbal * 100) AS BIGINT) > (
            SELECT CAST(sum(CAST(floor(c2.c_acctbal * 100) AS BIGINT))
                        AS DOUBLE) / count(*)
            FROM tq22_customer c2
            WHERE c2.c_acctbal > 0.0
              AND c2.c_nationkey IN (0, 3, 7, 11, 14, 17, 21))
          AND NOT EXISTS (SELECT 1 FROM tq22_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY c.c_nationkey
    """)


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution): LEFT OUTER join with a
    predicate on the NULL-producing side, then a two-level aggregation
    (orders per customer INCLUDING zero-order customers, then the
    distribution of those counts).  Exercises the outer-join + double-agg
    path no other suite query hits; counts are exact integers."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("tq13_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tq13_orders")
    return spark.sql("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c.c_custkey,
                     CAST(count(o.o_orderkey) AS BIGINT) AS c_count
              FROM tq13_customer c LEFT OUTER JOIN tq13_orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) c_orders
        GROUP BY c_count
    """)


def q_naaj_not_in(spark, sf_dir):
    """NOT IN over a subquery — the NULL-AWARE anti join, the one join
    family the suite didn't exercise (plain LeftAnti is Q21's NOT
    EXISTS; NOT IN has the three-valued-logic twist: any NULL in the
    inner set empties the result, so Catalyst must plan a null-aware
    single-column anti join, not a plain one).  Written as literal SQL;
    the plan is pinned to a BroadcastHashJoin LeftAnti with the NAAJ
    flag in tests/test_plan_shape.py.  Customers that never placed a
    finished ('F') order, counted by market segment."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("tnaaj_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tnaaj_orders")
    return spark.sql("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
        FROM tnaaj_customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM tnaaj_orders
                                WHERE o_orderstatus = 'F')
        GROUP BY c_mktsegment
    """)


def q_w6_range_frame(spark, sf_dir):
    """RANGE-frame window — trailing TIME-window aggregate per user (the
    one window-frame family the suite lacked: W2's cumsum uses
    rowsBetween, this one is value-based).  Frame = events within the
    trailing hour INCLUSIVE of the current row's peers; computed over
    epoch MICROSECONDS as int64 so the frame bound comparison is exact
    integer arithmetic in both engines.  Aggregates are count + an
    integer sum, so the result is bit-portable.  At 100 TB this is the
    'rolling request-rate per host' shape: one hash exchange on the
    partition key, then a codegen'd running multiset — no self-join
    blowup (the naive equivalent is an O(n·w) range self-join)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trail_1h"),
        F.sum("event_id").over(w).alias("sum_ids_1h"))


def q_a9_grouping_sets(spark, sf_dir):
    """GROUPING SETS with grouping() indicator columns — the explicit
    multi-granularity aggregate (cube/rollup are fixed lattices; the
    arbitrary-subset form is what report pipelines actually emit).  One
    pass over events produces the (bucket, type), (bucket), (type) and
    grand-total granularities; Spark expands to a single Expand +
    hash-aggregate (one shuffle for all four granularities — at 100 TB
    this beats four separate groupBys by reusing the scan and the
    exchange).  grouping() flags are projected separately (grouping_id
    bit order is engine-specific; the per-column flags are portable)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("tgs_events")
    return spark.sql("""
        SELECT user_id % 10 AS user_bucket, event_type,
               CAST(grouping(user_id % 10) AS BIGINT) AS g_bucket,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tgs_events
        GROUP BY GROUPING SETS ((user_id % 10, event_type),
                                (user_id % 10), (event_type), ())
    """)


def q_w7_rank_family(spark, sf_dir):
    """The full ranking-function family in one window — rank,
    dense_rank, row_number, percent_rank, cume_dist, ntile — over a
    DETERMINISTIC total order ((value, event_id) is unique, so
    row_number/ntile are well-defined).  percent_rank = (rank-1)/(n-1)
    and cume_dist = peers/n are each ONE IEEE float64 division of
    integers, identical in any engine, so the result is value-hash
    exact.  Ranking needs a per-partition sort but no second exchange —
    all six functions share one window spec, so Spark plans a single
    Window operator after one hash exchange + sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"))


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): IN over a GROUP
    BY+HAVING subquery feeding a 3-table join, re-aggregated and
    top-k'd.  Exercises HAVING-filtered semi-join + TakeOrderedAndProject
    over a join tree.  l_quantity is integer-valued so every sum is
    exact; (total_qty DESC, o_orderkey) is a deterministic total order
    for the LIMIT."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("tq18_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tq18_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("tq18_lineitem")
    return spark.sql("""
        SELECT c.c_custkey, o.o_orderkey,
               CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
        FROM tq18_customer c
        JOIN tq18_orders o ON c.c_custkey = o.o_custkey
        JOIN tq18_lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM tq18_lineitem
                               GROUP BY l_orderkey
                               HAVING sum(l_quantity) > 300)
        GROUP BY c.c_custkey, o.o_orderkey
        ORDER BY total_qty DESC, o.o_orderkey
        LIMIT 100
    """)


def q_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE (new in Spark 4.x — the iterative-query family
    PageRank/components previously needed driver-side loops for):
    multi-seed bounded BFS over a deterministic functional host graph,
    each user linking to two arithmetically-derived successors via a
    LATERAL VIEW explode INSIDE the recursive term (Spark requires
    exactly anchor UNION ALL one recursive child), then min-hop
    aggregation per reached node.  The recursion is depth-bounded by the
    hop predicate, so the fixpoint terminates without UNION dedup; all
    values integer-exact.  DuckDB replays the identical recursion with
    unnest in place of the lateral explode."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("trc_events")
    return spark.sql("""
        WITH RECURSIVE reach(seed, node, hop) AS (
          SELECT user_id AS seed, user_id AS node, 0 AS hop
          FROM (SELECT DISTINCT user_id FROM trc_events
                WHERE user_id % 10 = 0)
          UNION ALL
          SELECT seed, n AS node, hop + 1
          FROM reach
          LATERAL VIEW explode(array((node * 17 + 29) % 150,
                                     (node * 31 + 7) % 150)) t AS n
          WHERE hop < 4
        )
        SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
               CAST(min(hop) AS BIGINT) AS min_hop,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM reach GROUP BY seed, node
    """)


def q_bucketed_join(spark, sf_dir):
    """Co-located BUCKETED join (engine/catalog.py::write_bucketed /
    bucketed_join): events and a per-custkey order aggregate are written
    as catalog tables bucketed 8-ways on the join key, then joined and
    re-aggregated ON that key — the whole read-side query plans with
    ZERO Exchange operators (both scans read pre-bucketed files whose
    HashPartitioning Catalyst recognizes; pinned in
    tests/test_catalog.py).  At 100 TB this amortizes ONE write-time
    shuffle across every future join/groupBy on the key — the
    large-large join technique when neither side broadcasts and the
    runtime bloom filter can only thin, not eliminate, the exchange."""
    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    agg = (orders.groupBy(F.col("o_custkey").cast("long").alias("custkey"))
           .agg(F.count(F.lit(1)).alias("n_orders")))
    catalog.write_bucketed(
        ev.select(F.col("event_id").cast("long").alias("event_id"),
                  F.col("user_id").cast("long").alias("user_id")),
        "bj_events", "user_id", 8, sort_by=("user_id", "event_id"))
    catalog.write_bucketed(agg, "bj_orders", "custkey", 8)
    j = catalog.bucketed_join(spark, "bj_events", "bj_orders",
                              "user_id", "custkey")
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("n_orders").alias("n_orders")))


def q_j7_full_outer(spark, sf_dir):
    """FULL OUTER join — the one join type the suite lacked (inner/left/
    semi/anti/null-aware-anti all covered): reconcile two independently
    aggregated entity tables, keeping rows with no partner on EITHER
    side (the classic two-source reconciliation report).  Both inputs
    pre-aggregate to one row per key before the join, so the full-outer
    exchange carries entity-level rows, not raw events — at 100 TB the
    aggregate-then-join order is the difference between joining 10^8
    keys and joining 10^12 rows."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    e = (ev.groupBy(F.col("user_id").cast("long").alias("user_id"))
         .agg(F.count(F.lit(1)).alias("n_events")))
    c = (orders.filter(F.col("o_custkey") % 3 == 0)
         .groupBy(F.col("o_custkey").cast("long").alias("c_custkey"))
         .agg(F.count(F.lit(1)).alias("n_orders")))
    j = e.join(c, e.user_id == c.c_custkey, "full_outer")
    return j.select(
        F.coalesce(e.user_id, c.c_custkey).alias("key_id"),
        "n_events", "n_orders",
        F.when(e.user_id.isNull(), "customer_only")
         .when(c.c_custkey.isNull(), "user_only")
         .otherwise("both").alias("side"))


def q_a10_robust_aggs(spark, sf_dir):
    """The exact 'robust/order-statistic' aggregate family in one pass:
    min_by/max_by over a deterministic (value, event_id) tie order,
    count_if, bool_and/bool_or, bitwise AND/OR/XOR reductions, and a
    sorted-distinct set rendered to one string (collect_set is
    unordered by contract; sort_array pins it).  Every aggregate is
    integer/boolean/string-exact, all map-side combinable — one
    exchange for the whole family."""
    ev = _t(spark, sf_dir, "events")
    st = F.struct(F.col("value"), F.col("event_id"))
    return (ev.groupBy("event_type").agg(
        F.min_by("event_id", st).cast("long").alias("min_val_eid"),
        F.max_by("event_id", st).cast("long").alias("max_val_eid"),
        F.count_if(F.col("value") > 0.5).alias("n_hi"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("user_id") == 0).alias("has_user0"),
        F.bit_and(F.col("event_id")).alias("ids_and"),
        F.bit_or(F.col("event_id")).alias("ids_or"),
        F.bit_xor(F.col("event_id")).alias("ids_xor"),
        F.array_join(F.sort_array(F.collect_set(
            F.pmod(F.col("user_id"), F.lit(7)).cast("long"))), ",")
        .alias("user_buckets")))


def q_sketch_gates(spark, sf_dir):
    """Sketch-family approximate aggregates under driver-visible error
    gates (the ann_lsh_recall pattern — the oracle can't replay another
    engine's sketch, but it CAN pin the exact value and assert the
    engine's approximation landed inside its contract):
      * hll_*: approx_count_distinct (HyperLogLog++) vs exact distinct,
        |a-e|/e within 3x the default 5% rsd;
      * pctl_value_p50: percentile_approx (Greenwald-Khanna at accuracy
        1000) checked by RANK — the count of values <= the approximate
        median must sit within n*(0.5 +- 0.02), the sketch's rank-error
        contract with margin.  Rank checking is exact SQL; value-error
        checking would be data-dependent.
    Output: (gate, exact_n, ok) — exact_n is a true SQL-computable
    quantity, ok must be TRUE."""
    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")

    def hll_row(df, col, gate):
        return (df.agg(F.approx_count_distinct(col).alias("a"),
                       F.countDistinct(col).alias("e"))
                .select(F.lit(gate).alias("gate"),
                        F.col("e").cast("long").alias("exact_n"),
                        ((F.abs(F.col("a") - F.col("e"))
                          / F.col("e")) <= F.lit(0.15)).alias("ok")))

    st = ev.agg(F.percentile_approx("value", F.lit(0.5),
                                    F.lit(1000)).alias("ap"),
                F.count("value").alias("n"))
    pctl = (ev.crossJoin(F.broadcast(st))
            .agg(F.sum((F.col("value") <= F.col("ap")).cast("long"))
                 .alias("le"),
                 F.first("n").alias("n"))
            .select(F.lit("pctl_value_p50").alias("gate"),
                    F.col("n").cast("long").alias("exact_n"),
                    ((F.col("le") >= F.lit(0.48) * F.col("n"))
                     & (F.col("le") <= F.lit(0.52) * F.col("n")))
                    .alias("ok")))
    return (hll_row(ev, "user_id", "hll_user_id")
            .unionAll(hll_row(li, "l_partkey", "hll_partkey"))
            .unionAll(pctl))


def q_embed_quantize(spark, sf_dir):
    """int8 scalar quantization of the embedding column (the vector-store
    compression step): per-vector max-abs scale, q = floor(x/mx*127+0.5).
    Map-only; exploded (vec_id, dim, q) so the oracle hashes scalar rows.
    Every op is correctly-rounded IEEE (one division, one multiply, one
    floor) — DuckDB replays bit-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import quantize_int8
    return quantize_int8(emb)


def q_dedup_exact(spark, sf_dir):
    """Exercises engine.text.dedup_exact (hash-keyed shuffle); the oracle
    groups by raw text — identical output barring a 2^-190 hash collision."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import dedup_exact
    return dedup_exact(docs)


def q_boilerplate_tokens(spark, sf_dir):
    """Corpus-level boilerplate pruning (document-frequency > 50% tokens
    dropped, map-only rewrite) — exact SQL oracle on the cleaned strings."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import remove_boilerplate_tokens
    return remove_boilerplate_tokens(docs, threshold=0.7)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints in portable md5_60 hash mode
    (fingerprint sets are an exchange format — md5-of-gram reproduces in
    any engine), exploded to (doc_id, fingerprint) rows.  EXACT DuckDB
    oracle: k-gram hashes + min-per-sliding-window replayed with list
    lambdas.  The xxhash64 fast path shares the same winnow kernel and is
    golden-tested in tests/."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import winnow_fingerprints
    out = winnow_fingerprints(docs, hash_fn="md5_60")
    return out.select("doc_id",
                      F.explode("fingerprints").alias("fingerprint"))


def q_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH candidates + exact refine,
    with an EXACT oracle: at 24 bands x 2 bits the hyperplane-LSH band
    recall on >=0.35-cosine pairs is 1.0 on the driver corpus, so the
    output equals the all-pairs exact twin pair for pair, and the plain
    threshold-join SQL is a true oracle (a missed candidate OR a refine
    bug breaks the hash).  Cosines are bit-identical cross-engine — both
    engines fold the dot product left-to-right in doubles — so the
    >=threshold decisions agree exactly.  The sub-unit-recall scale
    regime (fewer, wider bands) stays covered by q_cosine_near_dup_recall
    and the pytest recall properties."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import cosine_near_dup_pairs
    return (cosine_near_dup_pairs(emb, threshold=0.35, dim=64, bits=48,
                                  bands=24)
            .select("a", "b"))


# non-SQL-expressible (rows-only check): the geo pipeline itself
def q_geo_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    return (gp.groupBy("host", F.col("subset_id").cast("long").alias("subset_id"))
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.round(F.sum("weight_s"), 6).alias("observed_s")))


def _event_locations(spark, sf_dir):
    """Per-user stop centers as a locations table (host, location_id,
    lat, lon) — same integer arithmetic as web_pages_from_events so the
    DuckDB oracle reproduces it exactly."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("long")
    stop = F.col("location_id").cast("long")
    base = (ev.select("user_id").distinct()
            .crossJoin(spark.range(3).select(F.col("id").cast("int")
                                             .alias("location_id"))))
    lat = (F.pmod(uid * F.lit(2654435761) + stop * F.lit(40503) + F.lit(17),
                  F.lit(120000001)).cast("double") / 1e6 - 60.0)
    lon = (F.pmod(uid * F.lit(2654435761) + stop * F.lit(40503) + F.lit(9176),
                  F.lit(350000001)).cast("double") / 1e6 - 175.0)
    return base.select(
        F.format_string("host%04d.example",
                        F.pmod(uid, F.lit(10000)).cast("int")).alias("host"),
        "location_id", lat.alias("lat"), lon.alias("lon"))


def q_j1_knn_assign(spark, sf_dir):
    """J1 via the engine's cell-index kNN join; oracle is brute-force
    SQL haversine — a REAL check that the ring-1 candidate join finds the
    true nearest neighbor."""
    from engine.episodes import knn_assign
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.with_cell(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    locs = _event_locations(spark, sf_dir)
    out = knn_assign(pts, locs, DEFAULT, broadcast_locations=True)
    return out.select("url", F.col("location_id").cast("long")
                      .alias("location_id"))


def q_text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import token_stats
    return token_stats(docs).select("doc_id", "n_ws_tokens", "n_word_tokens")


def q_vocab_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import vocab_topk
    return vocab_topk(docs, k=100).select("token", "n", "rank")


def q_bigram_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import ngram_topk
    return ngram_topk(docs, n=2, k=100).select("token", "n", "rank")


def q_length_quantiles(spark, sf_dir):
    """Per-language exact doc-length quantiles (0.25/0.5/0.75/0.9) +
    count.  Spark `percentile` and DuckDB `quantile_cont` share the
    (n-1)*p linear-interpolation definition, so values are bit-portable
    (one multiply/add between two order statistics)."""
    docs = _t(spark, sf_dir, "documents")
    ln = F.length("text").cast("double")
    probs = [0.25, 0.5, 0.75, 0.9]
    qexpr = F.percentile(ln, F.array(*[F.lit(p) for p in probs]))
    out = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        qexpr.alias("q"))
    return out.select(
        "lang", "n_docs",
        *[F.col("q")[i].alias(f"p{int(p * 100)}")
          for i, p in enumerate(probs)])


def q_tfidf_topk(spark, sf_dir):
    """Per-doc top-3 tf-idf terms in the ratio-idf exact mode (integer
    counts + one IEEE division -> bit-portable scores and ranks)."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import tfidf_topk
    return tfidf_topk(docs, k=3)


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import quality_score
    return quality_score(docs).select(
        "doc_id", "digit_ratio", "punct_ratio", "upper_ratio",
        "stop_ratio", "mean_word_len", "quality")


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import lang_id
    return lang_id(docs).select("doc_id", "lang_guess")


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + latest-snapshot dedup: a synthetic snapshot
    stream where every 3 consecutive event_ids are the SAME page under a
    different spelling (case, unsorted query params, :443, www., trailing
    slash, #fragment — one spelling class per eid%6), so canonicalization
    must collapse them and the dedup must keep max (warc_ts, url).  EXACT
    DuckDB oracle: same integer-arithmetic construction, same regexp
    canonicalization chain, window-replayed arg-max."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("long")
    gid = F.floor(eid / 3).cast("long")
    h = F.pmod(gid, F.lit(10000)).cast("int")
    p = gid.cast("int")
    cls = F.pmod(eid, F.lit(6))
    url = (
        F.when(cls == 0, F.format_string(
            "https://host%04d.example/p/%09d?a=1&b=2", h, p))
        .when(cls == 1, F.format_string(
            "HTTPS://HOST%04d.EXAMPLE/p/%09d?b=2&a=1", h, p))
        .when(cls == 2, F.concat(
            F.format_string("https://host%04d.example:443/p/%09d?a=1&b=2#s",
                            h, p), F.pmod(eid, F.lit(5)).cast("string")))
        .when(cls == 3, F.format_string(
            "https://www.host%04d.example/p/%09d?a=1&b=2", h, p))
        .when(cls == 4, F.format_string(
            "https://host%04d.example/p/%09d/?a=1&b=2", h, p))
        .otherwise(F.format_string(
            "https://host%04d.example/p/%09d?b=2&a=1", h, p)))
    pages = ev.select(url.alias("url"), F.col("ts").alias("warc_ts"))
    from engine.text import dedup_snapshots
    return dedup_snapshots(pages).select(
        "canon_url", "n_snapshots", "url", "warc_ts")


def q_pii_redact(spark, sf_dir):
    """PII scrub gate: plant emails / IPv4s / phone numbers with integer
    arithmetic (docs are synthetic word-soup, so planting makes the oracle
    REAL — mod-4 classes get one PII kind each, class 3 stays clean), then
    redact.  EXACT DuckDB oracle: the same planted strings + the same
    Java∩RE2 regexes replayed with regexp_replace(..., 'g') — redacted
    text must match byte-for-byte and per-type counts exactly."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    cls = F.pmod(d, F.lit(4))
    planted = F.concat(
        F.col("text"),
        F.when(cls == 0, F.concat(
            F.lit(" contact user"), d.cast("string"), F.lit("@mail"),
            F.pmod(d, F.lit(7)).cast("string"), F.lit(".example now")))
         .when(cls == 1, F.concat(
            F.lit(" from 10."), F.pmod(d, F.lit(256)).cast("string"),
            F.lit("."), F.pmod(d * 7, F.lit(256)).cast("string"),
            F.lit("."), F.pmod(d, F.lit(100)).cast("string"),
            F.lit(" logged")))
         .when(cls == 2, F.concat(
            F.lit(" call +1 "), (F.pmod(d, F.lit(900)) + 100).cast("string"),
            F.lit(" "), (F.pmod(d * 3, F.lit(900)) + 100).cast("string"),
            F.lit(" "), (F.pmod(d, F.lit(9000)) + 1000).cast("string"),
            F.lit(" soon")))
         .otherwise(F.lit("")))
    from engine.text import redact_pii
    corpus = docs.select("doc_id", planted.alias("text"))
    return redact_pii(corpus).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted")


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition signals (map-only whole-batch Arrow kernel).
    EXACT DuckDB oracle: token/bigram mode + distinct counts via
    unnest-group-count; fractions are single IEEE divisions of the same
    integer counts in both engines."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import repetition_stats
    return repetition_stats(docs).select(
        "doc_id", "n_tokens", "top_token_frac", "dup_token_frac",
        "top_bigram_frac", "dup_bigram_frac")


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from engine.text import ngram_jaccard_pairs
    return ngram_jaccard_pairs(docs, threshold=0.2).select("a", "b", "jaccard")


def q_ann_topk_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import cosine_topk_bruteforce
    out = cosine_topk_bruteforce(emb, k=3)
    return out.select("a", "b", F.col("rk").cast("long").alias("rk"))


# k-means driver params — single source of truth for the Spark query AND
# the chained-SQL oracle below.
_KMEANS_K = 8
_KMEANS_ITERS = 4
_KMEANS_KEEP_FRAC = 0.5


def q_kmeans(spark, sf_dir):
    """Lloyd k-means over the embeddings table: map-only literal-closure
    assignment + k*dim-row partial-agg update per round, exact
    integer-quantized arithmetic (engine/clustering.py docstring).  The
    oracle replays all _KMEANS_ITERS rounds as chained SQL — every
    assign/update decision is bit-identical cross-engine because sums
    stay in the exact-integer double domain and dots fold left-to-right
    in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.clustering import kmeans_lloyd
    return kmeans_lloyd(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)


# pagerank driver params — single source of truth for Spark AND oracle.
_PR_NODES = 64
_PR_ITERS = 6


def _pr_edges(docs):
    """Deterministic host-link graph from doc ids: src = doc_id mod N,
    dst = (doc_id * 48271) mod 2^31-1 mod N (Lehmer multiplier), self
    loops dropped, parallel edges deduped.  Pure integer arithmetic —
    DuckDB derives the identical edge set."""
    did = F.col("doc_id").cast("long")
    return (docs.select((did % _PR_NODES).alias("src"),
                        ((did * 48271) % 2147483647 % _PR_NODES)
                        .alias("dst"))
            .filter(F.col("src") != F.col("dst")).distinct())


def q_pagerank_hosts(spark, sf_dir):
    """Iterative link analysis (engine/graph.py): integer-quantized
    PageRank power iteration over the derived host graph, every round's
    floor-division transfer bit-identical cross-engine; the oracle replays
    all _PR_ITERS rounds as chained SQL (one CTE per round)."""
    from engine.graph import pagerank
    docs = _t(spark, sf_dir, "documents")
    return pagerank(_pr_edges(docs), iters=_PR_ITERS)


def q_kmeans_prune(spark, sf_dir):
    """Centroid-distance prototype selection on top of the k-means
    chain: keep the ceil(keep_frac * |cluster|) members closest to
    their centroid.  dist^2 ranking is bit-portable (same folds as
    assignment), so the oracle extends the chained-SQL replay with one
    rank round."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.clustering import kmeans_prune
    return kmeans_prune(emb, k=_KMEANS_K, iters=_KMEANS_ITERS,
                        keep_frac=_KMEANS_KEEP_FRAC)


# quality-classifier driver params — single source of truth for the Spark
# query AND the chained-SQL oracle (_classifier_chain_sql).
_QC_DIMS = 256
_QC_ROUNDS = 8
_QC_MARKER = "spark"


def q_quality_classifier(spark, sf_dir):
    """Trained hashed-feature logistic regression (engine/classifier.py):
    featurize once (binary presence of md5-60-hashed tokens in _QC_DIMS
    buckets + bias slot), _QC_ROUNDS rounds of full-batch GD with integer
    micro-weights and the rational fast-sigmoid link, then a map-only
    apply.  Label: presence of the marker token (the synthetic corpus has
    no other text-derivable label — lang shares one vocabulary).  The
    oracle replays every GD round as chained SQL; margins/gradients are
    exact int64 sums so all (dims+1) x rounds weight decisions are
    bit-identical cross-engine.  Accuracy at sf0.01 is 1.0 (visible in
    the per-doc y/pred columns)."""
    from engine.classifier import apply_classifier, train_quality_classifier
    from engine.text import tokens_col
    docs = _t(spark, sf_dir, "documents")
    label = F.array_contains(tokens_col(F.col("text")), F.lit(_QC_MARKER))
    wq, feats = train_quality_classifier(docs, label, dims=_QC_DIMS,
                                         rounds=_QC_ROUNDS)
    try:
        # eager-materialize the per-doc result so the cached feature table
        # is released here rather than leaking into the long-lived session
        return apply_classifier(feats, wq).localCheckpoint(eager=True)
    finally:
        feats.unpersist()


# BPE trainer driver params — single source of truth for the Spark
# queries AND the chained-SQL oracle (_bpe_chain_sql).
_BPE_ROUNDS = 8


def q_bpe_train(spark, sf_dir):
    """Trained BPE tokenizer (engine/tokenizer.py): learn _BPE_ROUNDS
    byte-pair merges from corpus word frequencies — the
    HuggingFace/SentencePiece trainer shape.  The corpus is aggregated
    ONCE (word counts); every merge round is a vocab-sized pair count +
    1-row argmax + map-only literal string rewrite.  The oracle replays
    all rounds as chained CTEs: pair counts are exact int64 sums, the
    argmax tie-break is (count DESC, pair ASC), and merges are literal
    left-to-right non-overlapping `replace` passes with identical
    semantics in both engines (engine/tokenizer.py docstring)."""
    from engine.tokenizer import bpe_train
    docs = _t(spark, sf_dir, "documents")
    _, mdf = bpe_train(docs, rounds=_BPE_ROUNDS)
    return mdf


def q_bpe_encode(spark, sf_dir):
    """Apply the _BPE_ROUNDS learned merges to the corpus: exploded
    (doc_id, wpos, tpos, token) rows.  The encode itself is MAP-ONLY —
    the merge table rides into the codegen closure as a literal
    rounds x BPE_PASSES `replace` chain (plan-pinned in
    tests/test_plan_shape.py).  The oracle re-derives the same merges via
    the training CTE chain, then applies them through eight 1-row CROSS
    JOINs — training and encoding are both value-exact cross-engine."""
    from engine.tokenizer import bpe_encode, bpe_train
    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, rounds=_BPE_ROUNDS)
    return bpe_encode(docs, merges)


def q_zorder_layout(spark, sf_dir):
    """Hilbert/z-order layout keys + per-bucket locality stats
    (engine/layout.py): every geopoint gets its fine cell (level 12,
    native codegen encode) and its layout bucket (coarse parent cell,
    pure bit math); output is per-bucket row counts and bbox extents —
    the numbers that prove consecutive buckets are spatially local (the
    property partition-pruned bbox reads rely on; the write/prune path
    itself is pytest-covered in tests/test_layout.py, file I/O being
    outside the query surface).  The oracle replays the full encode chain
    (the tiles_pyramid Hilbert-FSM SQL) plus the parent-cell bit
    arithmetic; min/max floats are comparison-only, so everything is
    bit-exact."""
    from engine.layout import zorder_keys
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.extract_points(web_pages_from_events(ev), DEFAULT)
    keyed = zorder_keys(pts, lat_col="lat", lon_col="lon",
                        level=12, bucket_level=4)
    return (keyed.groupBy("z_bucket")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min("lat").alias("lat_lo"), F.max("lat").alias("lat_hi"),
                 F.min("lon").alias("lon_lo"), F.max("lon").alias("lon_hi")))


def q_cdc_merge(spark, sf_dir):
    """MERGE INTO / CDC-apply (engine/catalog.py::merge_upsert): fold a
    deterministic synthetic change stream into the documents snapshot —
    updates (seq 1), superseding updates (seq 3), deletes (seq 2, some
    superseded by the seq-3 update), and inserts of new keys.  The change
    stream is reduced per-key with max_by FIRST; the target then never
    shuffles (left_anti against the reduced key set + union of applied
    rows).  The oracle replays the same stream with arg_max + ANTI JOIN;
    all payloads are concrete deterministic expressions (no NULLs — the
    engines' null-handling in max_by/arg_max differs, so the contract
    keeps NULL payloads out of the stream)."""
    from engine.catalog import merge_upsert
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.select("doc_id", "text", "lang", "source", "n_chars")

    def ch(pred, text, lang, source, n_chars, op, seq, key=None):
        return (docs.filter(pred)
                .select((key if key is not None else F.col("doc_id"))
                        .cast("long").alias("doc_id"),
                        text.alias("text"), lang.alias("lang"),
                        source.alias("source"),
                        n_chars.cast("long").alias("n_chars"),
                        F.lit(op).alias("op"),
                        F.lit(seq).cast("int").alias("seq")))

    changes = (
        ch(F.col("doc_id") % 7 == 0, F.concat(F.lit("U1:"), F.col("lang")),
           F.col("lang"), F.lit("cdc"), F.col("doc_id"), "U", 1)
        .unionByName(ch(F.col("doc_id") % 35 == 0,
                        F.concat(F.lit("U2:"), F.col("source")),
                        F.col("lang"), F.lit("cdc"), F.lit(0), "U", 3))
        .unionByName(ch(F.col("doc_id") % 13 == 0, F.lit("DEL"),
                        F.lit("xx"), F.lit("cdc"), F.lit(0), "D", 2))
        .unionByName(ch(F.col("doc_id") % 17 == 0,
                        F.concat(F.lit("NEW:"),
                                 F.col("doc_id").cast("string")),
                        F.lit("en"), F.lit("cdc"), F.lit(0), "I", 1,
                        key=F.col("doc_id") + 10000)))
    return merge_upsert(tgt, changes, key_cols="doc_id")


def q_cdc_merge_pred(spark, sf_dir):
    """Predicated MERGE INTO (engine/catalog.py::merge_predicated): the
    Iceberg/Delta `WHEN MATCHED AND <pred> THEN UPDATE/DELETE, WHEN NOT
    MATCHED AND <pred> THEN INSERT` shape over the documents snapshot.
    Matched clauses in order: source rows relabeled 'zz' DELETE their
    target; otherwise a cross-side predicate (t.n_chars < s.n_chars)
    UPDATEs; everything else (including shrink proposals) falls through
    and keeps the target row.  Unmatched source rows insert only when
    their n_chars is even.  The oracle replays the clause CASE on a LEFT
    JOIN plus an ANTI JOIN insert arm — all payloads deterministic
    expressions on both engines."""
    from engine.catalog import merge_predicated
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.select("doc_id", "text", "lang", "source", "n_chars")
    upd = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.lit("M:"), F.col("lang")).alias("text"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("zz"))
         .otherwise(F.col("lang")).alias("lang"),
        F.lit("hot").alias("source"),
        (F.col("n_chars") + F.when(F.col("doc_id") % 3 == 0, F.lit(1000))
                             .otherwise(F.lit(-1000)))
        .cast("long").alias("n_chars"))
    new = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 20000).cast("long").alias("doc_id"),
        F.lit("NEW").alias("text"), F.lit("en").alias("lang"),
        F.lit("ins").alias("source"),
        F.col("doc_id").cast("long").alias("n_chars"))
    return merge_predicated(
        tgt, upd.unionByName(new), key_cols="doc_id",
        matched=[("s.lang = 'zz'", "delete"),
                 ("t.n_chars < s.n_chars", "update")],
        not_matched="s.n_chars % 2 = 0")


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash LSH near-dup with an EXACT oracle: candidates are
    LSH-generated (engine hashing) but verification is exact shingle-set
    Jaccard, and at these params (64 hashes x 16 bands, threshold 0.5) the
    band recall on >=0.5-Jaccard pairs is 1.0 on the driver corpus — so
    the output equals the all-pairs exact twin, pair for pair and value
    for value, and the plain exact-Jaccard SQL is a true oracle.  A recall
    regression (missed pair) or refine bug (wrong value) breaks the hash."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import dedup_minhash
    return dedup_minhash(docs, threshold=0.5)


def q_dedup_incremental(spark, sf_dir):
    """Operational incremental near-dup: two corpus slices are indexed
    (persisted hashed shingle sets + LSH band buckets, appended behind
    the manifest's exactly-once batch ledger), then a NEW batch probes
    the index — historical text is never rescanned; history participates
    only via its stored buckets and hash sets.  Recall equals batch
    dedup_minhash over old ∪ new by construction (same signature family,
    banding and verify — params pinned in the manifest), and at these
    params LSH recall on >=0.5-Jaccard pairs is 1.0 (q_dedup_minhash_lsh),
    so the all-pairs exact-Jaccard oracle restricted to new-touching
    pairs is a true oracle."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    from engine.text import dedup_index_write, dedup_probe_incremental
    tbl = tempfile.mkdtemp(prefix="didx_")
    dedup_index_write(docs.filter(F.col("doc_id") % 3 == 1), tbl, 0)
    dedup_index_write(docs.filter(F.col("doc_id") % 3 == 2), tbl, 1)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    return (dedup_probe_incremental(spark, new, tbl, threshold=0.5)
            .orderBy("a", "b"))


def q_dedup_clusters(spark, sf_dir):
    """Corpus-dedup clustering end to end (MinHash-LSH pairs -> pointer-
    jumping connected components -> representative pick) with an EXACT
    oracle: LSH pair recall is 1.0 at these params (see
    q_dedup_minhash_lsh), so the component structure over the exact
    >=0.5-Jaccard pair graph — computed in DuckDB via a recursive CTE —
    is the expected output, doc for doc."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import dedup_clusters
    out = dedup_clusters(docs, threshold=0.5)
    return out.select("doc_id",
                      F.col("cluster_rep").cast("long").alias("cluster_rep"),
                      F.col("is_kept").cast("long").alias("is_kept"))


def q_ann_lsh_recall(spark, sf_dir):
    """Driver-visible LSH quality gate (was rows-only): recall of
    ann_cosine_topk (sign-LSH candidates + exact Arrow refine) against the
    exact brute-force top-k, returned as (metric, value) rows.  The raw
    recall value is engine-hash-dependent (no SQL twin), so the oracle
    pins the deterministic invariants: the exact-side pair count (a real
    SQL computation) and the recall floor (measured 0.881 at these params
    on the driver corpus; floor 0.80 leaves regeneration margin).  A
    banding or refine bug sends recall to ~0 and fails the hash match."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import ann_cosine_topk, cosine_topk_bruteforce
    lsh = ann_cosine_topk(emb, k=3, dim=64, bits=12, bands=6).select("a", "b")
    ex = cosine_topk_bruteforce(emb, k=3).select("a", "b")
    j = ex.join(lsh.withColumn("_hit", F.lit(1)), ["a", "b"], "left")
    st = j.agg(F.count(F.lit(1)).alias("n_exact"),
               F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"))
    recall = F.col("n_hit").cast("double") / F.col("n_exact").cast("double")
    rows = F.array(
        F.struct(F.lit("n_exact").alias("metric"),
                 F.col("n_exact").cast("double").alias("value")),
        F.struct(F.lit("recall_floor_0.80_met").alias("metric"),
                 (recall >= 0.80).cast("double").alias("value")))
    return st.select(F.explode(rows).alias("m")).select("m.metric", "m.value")


def q_cosine_near_dup_recall(spark, sf_dir):
    """Driver-visible embedding near-dup quality gate: precision and
    recall of cosine_near_dup_pairs (LSH candidates + exact refine,
    threshold 0.35) vs the exact all-pairs twin, as (metric, value) rows.
    Precision is EXACTLY 1.0 by construction (refine computes true cosine
    on candidates and thresholds) — a refine bug breaks it; recall floor
    0.85 (measured 0.941).  n_exact is a true SQL computation."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import (cosine_near_dup_pairs,
                                   cosine_threshold_pairs_bruteforce)
    got = (cosine_near_dup_pairs(emb, threshold=0.35, dim=64, bits=12,
                                 bands=6)
           .select("a", "b").withColumn("_hit", F.lit(1)))
    ex = (cosine_threshold_pairs_bruteforce(emb, threshold=0.35)
          .select("a", "b").withColumn("_ex", F.lit(1)))
    j = ex.join(got, ["a", "b"], "full")
    st = j.agg(F.sum(F.coalesce(F.col("_ex"), F.lit(0))).alias("n_exact"),
               F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_got"),
               F.sum(F.when(F.col("_ex").isNotNull()
                            & F.col("_hit").isNotNull(), 1)
                     .otherwise(0)).alias("n_tp"))
    precision = F.col("n_tp").cast("double") / F.col("n_got").cast("double")
    recall = F.col("n_tp").cast("double") / F.col("n_exact").cast("double")
    return st.select(F.explode(F.array(
        F.struct(F.lit("n_exact").alias("metric"),
                 F.col("n_exact").cast("double").alias("value")),
        F.struct(F.lit("precision").alias("metric"),
                 F.round(precision, 6).alias("value")),
        F.struct(F.lit("recall_floor_0.85_met").alias("metric"),
                 (recall >= 0.85).cast("double").alias("value")),
    )).alias("m")).select("m.metric", "m.value")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (train/test-leakage guard): docs sharing
    any word 3-gram with the simulated eval set (doc_id % 13 == 0) are
    flagged.  Broadcast benchmark n-grams; corpus side stays map-only —
    exact SQL oracle replays the n-gram join in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import decontaminate
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return decontaminate(docs, bench, n=3)


_CMS_D, _CMS_W = 4, 512


def q_count_min(spark, sf_dir):
    """Count-Min sketch point-frequency estimates beside the true
    counts: the depth x width counter matrix builds with map-side
    combine (KB per partition cross the exchange, like Misra-Gries, but
    CMS answers EVERY token and merges by cell-wise addition).  The
    md5_60-portable hash family makes the entire construction integer-
    exact, so the oracle replays build + min-probe verbatim; the CMS
    one-sided guarantee (est >= true, collisions only add) is emitted
    per row as never_under."""
    docs = _t(spark, sf_dir, "documents")
    from engine.sketch import count_min_build, count_min_estimate
    from engine.text import tokens_col
    sk = count_min_build(docs, _CMS_D, _CMS_W)
    true = (docs.select(F.explode(tokens_col(F.col("text")))
                        .alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("true_n")))
    est = count_min_estimate(sk, true.select("token"), _CMS_D, _CMS_W)
    return (est.join(true, "token")
            .select("token", "true_n", "cms_est",
                    (F.col("cms_est") >= F.col("true_n"))
                    .alias("never_under"),
                    (F.col("cms_est") == F.col("true_n")).alias("exact_hit"))
            .orderBy("token"))


def q_stream_count_min(spark, sf_dir):
    """STREAMING Count-Min — the reason to sketch a stream at all: a
    global streaming aggregate normally has unbounded state, but the
    sketch bounds it STRUCTURALLY at depth x width counter rows whatever
    the corpus, so `count_min_build` runs UNCHANGED on readStream in
    complete mode (no watermark needed; the sketch IS the state bound).
    The corpus arrives as three micro-batches (maxFilesPerTrigger=1);
    linearity means incremental accumulation equals the one-shot build,
    so the final estimates share q_count_min's exact oracle verbatim."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    from engine.sketch import count_min_build, count_min_estimate
    from engine.text import tokens_col
    path = tempfile.mkdtemp(prefix="scm_")
    docs.repartition(3).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(path))
    spark.sql("DROP TABLE IF EXISTS scm_cells")
    q = (count_min_build(stream, _CMS_D, _CMS_W)
         .writeStream.outputMode("complete").format("memory")
         .queryName("scm_cells").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cells = spark.table("scm_cells")
    true = (docs.select(F.explode(tokens_col(F.col("text")))
                        .alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("true_n")))
    est = count_min_estimate(cells, true.select("token"), _CMS_D, _CMS_W)
    return (est.join(true, "token")
            .select("token", "true_n", "cms_est",
                    (F.col("cms_est") >= F.col("true_n"))
                    .alias("never_under"),
                    (F.col("cms_est") == F.col("true_n")).alias("exact_hit"))
            .orderBy("token"))


def q_stream_histogram(spark, sf_dir):
    """STREAMING equi-width histogram: like the CMS twin, the value of
    the op on a stream is its STRUCTURAL state bound — per-(key, bin)
    counters + running min/max, bins-many rows whatever the corpus — so
    ops.histogram_equiwidth runs UNCHANGED on readStream in complete
    mode with no watermark.  The corpus arrives as three micro-batches;
    count/min/max are all merge-associative, so the accumulated result
    equals the one-shot batch build and the final table shares
    q_histogram_values' exact oracle verbatim."""
    import tempfile

    ev = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="shist_")
    ev.repartition(3).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(path))
    d = stream.select("event_type",
                      F.floor(F.col("value") * 100).cast("long")
                      .alias("v_cents"))
    spark.sql("DROP TABLE IF EXISTS shist_bins")
    q = (ops.histogram_equiwidth(d, ["event_type"], "v_cents",
                                 width=_HIST_WIDTH)
         .writeStream.outputMode("complete").format("memory")
         .queryName("shist_bins").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("shist_bins")


def q_stream_static_join(spark, sf_dir):
    """STREAM-STATIC join — the canonical Structured Streaming
    enrichment pattern this suite hadn't pinned yet: the event stream
    joins the static customer dimension (stateless — the dim is just a
    batch side Spark broadcasts per micro-batch, no join state at all)
    and feeds a complete-mode aggregate whose state is bounded at one
    row per market segment.  Three micro-batches accumulate to exactly
    the batch join + group-by, which is what the oracle states."""
    import tempfile

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    path = tempfile.mkdtemp(prefix="ssj_")
    ev.repartition(3).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(path))
    j = stream.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("user_id"),
                                "c_mktsegment")), "user_id")
    agg = (j.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("long"))
                .cast("long").alias("sum_cents")))
    spark.sql("DROP TABLE IF EXISTS ssj_out")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("ssj_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("ssj_out")


_CUR_MINTOK = 12
_CUR_CAP = 128
_CUR_FRACS = {f"src{i}": (1.0 if i % 2 == 0 else 0.5) for i in range(20)}


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END curation pipeline — the composition a training-data
    team actually runs, proving the operators chain: token-length gate
    -> exact dedup (keep-first) -> benchmark decontamination (drop) ->
    deterministic stratified sampling by source -> GPT-style sequence
    packing.  Every stage is individually oracle-exact, so the chain is
    too: the oracle replays all five stages as one CTE pipeline.  Scale
    posture is inherited stage-by-stage (hash-triple dedup exchange,
    broadcast bench grams, pure-function sampling, one packing window
    exchange) — no stage materializes to the driver."""
    docs = _t(spark, sf_dir, "documents")
    from engine import ops
    from engine.text import (decontaminate, dedup_exact, pack_sequences,
                             tokens_col)
    s1 = docs.filter(F.size(tokens_col(F.col("text"))) >= _CUR_MINTOK)
    winners = dedup_exact(s1).select("doc_id")
    s2 = s1.join(winners, "doc_id", "left_semi")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    flagged = (decontaminate(s2, bench, n=3)
               .filter(F.col("is_contaminated")).select("doc_id"))
    s3 = s2.join(flagged, "doc_id", "left_anti")
    lcg = F.col("doc_id").cast("long") * F.lit(2654435761) + F.lit(97)
    s4 = ops.sample_stratified(s3, _CUR_FRACS, strata_col="source",
                               hash_expr=lcg)
    return (pack_sequences(s4, capacity=_CUR_CAP)
            .orderBy("source", "bin_id", "doc_id"))


_PCA_U = [((i * 37) % 13) - 6 for i in range(64)]  # planted spike direction


def _spiked_embeddings(emb):
    """Plant a deterministic rank-1 spike (coefficient (vec_id % 7 - 3),
    direction _PCA_U, step 0.05) so the spectrum has a dominant
    eigenvalue for power iteration to find — the synthetic embeddings
    are isotropic (top eigenvalues within 1.3% of each other).  Integer
    coefficient times integer direction is exact in double; the single
    *0.05 and + x roundings replay identically in DuckDB."""
    c = (F.col("vec_id") % 7 - 3).cast("double")
    return emb.select(
        "vec_id",
        F.zip_with(F.col("embedding"),
                   F.lit([float(x) for x in _PCA_U]),
                   lambda x, ui: x.cast("double") + c * ui * F.lit(0.05))
        .alias("embedding"))


def q_pca_power(spark, sf_dir):
    """Distributed PCA, bit-portable quant mode: quantize -> integral
    centering -> int64 Gram via per-batch outer-product blocks (the only
    exchange is dim^2-row) -> driver power iteration (8 rounds, max-abs
    floor-div normalization, no sqrt) -> map-only projection.  The
    DuckDB oracle replays every stage value-for-value; float top-k mode
    is numpy-golden in pytest with a cosine gate tying the quant
    direction to the true PC1."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.decomposition import pca_power_quant
    return pca_power_quant(_spiked_embeddings(emb)).orderBy("vec_id")


def _pca_chain_sql() -> str:
    """engine.decomposition.pca_power_quant unrolled: spike -> quantize
    -> integral centering (pmod floor division — negatives floor, unlike
    DuckDB's truncating //) -> Gram -> ceil-divisor scale -> 8 power
    rounds -> projection.  Every SUM casts back from HUGEINT."""
    from engine.decomposition import (DEFAULT_ROUNDS, G_CAP, SCALE_V,
                                      SCALE_X)
    u = "[" + ", ".join(f"{v}.0" for v in _PCA_U) + "]"
    fd = lambda a, n: f"CAST((({a}) - (((({a}) % ({n})) + ({n})) % ({n}))) / ({n}) AS BIGINT)"  # noqa: E731
    parts = [f"""e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, 65),
           i -> embedding[i]::DOUBLE
                + ((vec_id % 7 - 3)::DOUBLE * ({u})[i]) * 0.05) AS xs
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(xs, x -> CAST(floor(x * {SCALE_X}) AS BIGINT)) AS qx
  FROM e
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
s AS MATERIALIZED (
  SELECT i, CAST(sum(v) AS BIGINT) AS si
  FROM (SELECT unnest(qx) AS v, unnest(range(0, 64)) AS i FROM q)
  GROUP BY i
),
y AS MATERIALIZED (
  SELECT t.vec_id, t.i, {fd("nn.n * t.v - s.si", "nn.n")} AS y
  FROM (SELECT vec_id, unnest(qx) AS v, unnest(range(0, 64)) AS i FROM q) t,
       nn JOIN s ON s.i = t.i
),
g AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.y * b.y) AS BIGINT) AS g
  FROM y a JOIN y b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
dd AS (SELECT 1 + (CAST(max(abs(g)) AS BIGINT) - 1) // {G_CAP} AS d FROM g),
gs AS MATERIALIZED (
  SELECT i, j, {fd("g.g", "dd.d")} AS g FROM g, dd
),
v0 AS (SELECT i, CAST({SCALE_V} AS BIGINT) AS v FROM range(0, 64) t(i))"""]
    for r in range(1, DEFAULT_ROUNDS + 1):
        parts.append(f"""w{r} AS MATERIALIZED (
  SELECT gs.i, CAST(sum(gs.g * v.v) AS BIGINT) AS w
  FROM gs JOIN v{r - 1} v ON gs.j = v.i GROUP BY gs.i
),
m{r} AS (SELECT CAST(max(abs(w)) AS BIGINT) AS m FROM w{r}),
v{r} AS MATERIALIZED (
  SELECT i, {fd(f"w{r}.w * {SCALE_V}", f"m{r}.m")} AS v FROM w{r}, m{r}
)""")
    return ",\n".join(parts)


def q_fuzzy_pairs(spark, sf_dir):
    """Blocked edit-distance similarity join (PassJoin pigeonhole
    blocking + levenshtein verify) over 16-char document title prefixes:
    every unordered pair within distance 2.  Blocking is lossless, so
    the all-pairs DuckDB oracle (with the |len diff| <= d band as its
    only prefilter) agrees row-for-row — both engines implement unit-
    cost Levenshtein."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 16).alias("title"))
    from engine.text import fuzzy_pairs
    return (fuzzy_pairs(docs, text_col="title", max_dist=2)
            .orderBy("id_a", "id_b"))


def q_entity_resolution(spark, sf_dir):
    """Entity resolution end to end: PassJoin edit-distance pairs over
    16-char title prefixes (d <= 2) -> pointer-jumping connected
    components -> canonical representative (min id) per entity cluster —
    the fuzzy-matching twin of dedup_clusters, proving the blocked
    similarity join composes with the CC machinery.  Oracle: recursive-
    CTE closure over the all-pairs levenshtein edge set (blocking is
    lossless, so the edge sets are identical)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 16).alias("title"))
    from engine.text import fuzzy_pairs
    pairs = fuzzy_pairs(docs, text_col="title", max_dist=2) \
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    comp = ops.min_label_components(docs.select("doc_id"), pairs,
                                    id_col="doc_id")
    return (comp.select(
        "doc_id", F.col("component_id").alias("entity_rep"),
        (F.col("doc_id") == F.col("component_id")).cast("long")
        .alias("is_canonical")).orderBy("doc_id"))


_BLOOM_M = 1 << 16
_BLOOM_K = 4


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination beside the exact join: the bench
    n-grams fold into a 2^16-bit filter (md5_60-portable hash family) and
    the corpus side is a MAP-ONLY literal-bitmap probe — no join build
    side at all.  Output joins the bloom verdict to the exact one, making
    the structural guarantees driver-visible row-by-row: bloom_fn (missed
    leakage) is ALWAYS false, bloom_fp is the bounded clean-data cost.
    The oracle replays positions, bit set and membership exactly."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import decontaminate, decontaminate_bloom
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    bloom = decontaminate_bloom(docs, bench, n=3, m_bits=_BLOOM_M,
                                k=_BLOOM_K)
    exact = decontaminate(docs, bench, n=3).select(
        "doc_id", "is_contaminated")
    return (bloom.join(exact, "doc_id")
            .select("doc_id", "n_maybe_grams", "is_flagged",
                    F.col("is_contaminated").alias("exact_flagged"),
                    (F.col("is_flagged") & ~F.col("is_contaminated"))
                    .alias("bloom_fp"),
                    (~F.col("is_flagged") & F.col("is_contaminated"))
                    .alias("bloom_fn"))
            .orderBy("doc_id"))


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs in portable md5_60 token-hash mode (simhash
    fingerprints are an exchange format; md5-of-token reproduces in any
    engine).  EXACT DuckDB oracle: the 60 per-bit popcount votes, the
    9-band pigeonhole bucket join, and the xor-popcount verify replayed
    in SQL.  The xxhash64 fast path shares the same voting kernel and is
    covered by `simhash_dup_recall` + pytest."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import simhash, simhash_near_pairs
    return simhash_near_pairs(simhash(docs, hash_fn="md5_60"), max_hamming=8)


def q_simhash_dup_recall(spark, sf_dir):
    """Driver-visible SimHash quality gate: plant exact duplicates (every
    doc_id % 7 == 0 doc re-inserted under doc_id + 1_000_000) and assert
    simhash_near_pairs recovers EVERY planted pair at hamming 0.  The
    invariant is deterministic by construction — identical token sequences
    give identical 64-bit simhashes, and a hamming-0 pair agrees on every
    band, so any banding/verify bug (wrong band bounds, dropped bucket,
    popcount error) breaks the found-fraction or max-hamming row.
    n_planted is a true SQL computation on the documents table."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    planted = (base.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    corpus = base.unionByName(planted)
    from engine.text import simhash, simhash_near_pairs
    pairs = simhash_near_pairs(simhash(corpus), max_hamming=8)
    hit = pairs.filter(F.col("b") - F.col("a") == 1_000_000)
    n_planted = planted.count()
    st = hit.agg(F.count(F.lit(1)).alias("n_found"),
                 F.coalesce(F.max("hamming"), F.lit(-1)).alias("max_h"))
    return st.select(F.explode(F.array(
        F.struct(F.lit("n_planted").alias("metric"),
                 F.lit(float(n_planted)).alias("value")),
        F.struct(F.lit("planted_found_frac").alias("metric"),
                 F.round(F.col("n_found").cast("double")
                         / F.lit(float(n_planted)), 6).alias("value")),
        F.struct(F.lit("planted_hamming_max").alias("metric"),
                 F.col("max_h").cast("double").alias("value")),
    )).alias("m")).select("m.metric", "m.value")


def q_ann_topk_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-k with an EXACT oracle: at 24 bands x 2
    bits the candidate set contains every true top-3 neighbor on the
    driver corpus (band recall 1.0), so the LSH result equals brute-force
    top-k rank for rank and the plain SQL top-k is a true oracle.  Ranks
    are bit-portable because both engines compute bit-identical cosines
    (left-to-right double folds) and break ties on b.  The sub-unit-recall
    regime (the real ANN trade-off) stays covered by q_ann_lsh_recall and
    pytest recall properties; the 10^9-vector path is q_ann_topk_ivf."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import ann_cosine_topk
    out = ann_cosine_topk(emb, k=3, dim=64, bits=48, bands=24)
    return out.select("a", "b", F.col("rk").cast("long").alias("rk"))


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN in exhaustive mode (nprobe == n_centroids): probing every
    cell makes the search exact, so the full IVF machinery — centroid
    training, cell assignment, cogrouped per-cell matmul refine, global
    top-k merge — is oracle-checked against plain SQL top-k.  The
    nprobe << n_centroids regime is recall-property-tested in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import ivf_cosine_topk
    out = ivf_cosine_topk(emb, k=3, n_centroids=8, nprobe=8, dim=64)
    return out.select("a", "b", F.col("rk").cast("long").alias("rk"))


def q_tiles_pyramid(spark, sf_dir):
    """Hilbert tile pyramid with an EXACT oracle, Hilbert cell ids
    included: the oracle SQL replays the native whole-stage-codegen cell
    encode (engine/functions.py encode_cell_native) term for term — the
    trig/face/quadratic-ST float chain (verified bit-identical between the
    JVM and DuckDB libm on every site in the corpus) and the 4-bit Hilbert
    FSM as 4 chained table-lookup rounds on exact integers — on top of the
    full prep replay (F3 dedup, G1 jump fixpoint, W2 sessionize, X3
    interpolation).  Site mass is quantized to integer milliseconds
    BEFORE the density aggregation so every sum is an exact-integer
    double/long sum — order-independent and bit-portable; the unquantized
    float-mass path stays covered by q_tiles_mass_check and pytest."""
    ev = _t(spark, sf_dir, "events")
    from engine import tiles
    gp = trace_prep.prep_points(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    sites = (trace_prep.interpolate_sites(gp, DEFAULT)
             .withColumn("mass_s", F.floor(F.col("mass_s") * 1000.0)))
    dens = tiles.cell_density(sites, DEFAULT)
    pyr = tiles.rollup_pyramid(dens, DEFAULT)
    return pyr.select("level", "cell_id",
                      F.col("mass_s").cast("long").alias("mass_ms"))


def q_geo_locations_quant(spark, sf_dir):
    """The FULL activity-location chain (A2 KDE -> A3 threshold -> A4
    clustering -> A5 centroid/dwell) with an EXACT end-to-end oracle, in
    the engine's bit-portable quant mode (engine/locations.py
    _kde_from_grid_quant): site mass floor-quantized to integer ms,
    smoothing by the quant_stencil INTEGER weights (the same 169 literals
    ride in the SQL — exp() never has to agree cross-engine), integer
    density threshold, and centroids from integer moment sums.  The SQL
    replays every stage including A4 connected components as chained
    min-label + pointer-jump rounds.  The production Gaussian float mode
    (same lattice, exp weights) matches quant to ~1e-10 degrees and stays
    covered by geo_locations (rows-only) + pytest goldens; quant
    wholehost/chunked parity is byte-exact (pytest)."""
    ev = _t(spark, sf_dir, "events")
    from dataclasses import replace
    from engine import locations as loc
    gp = trace_prep.prep_points(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    return loc.detect_locations_wholehost(gp, cfg, quant=True)


def q_geo_episodes_quant(spark, sf_dir):
    """The FLAGSHIP end-to-end pipeline — prep, KDE location detection,
    kNN assignment, episode segmentation — under ONE exact chained-SQL
    oracle.  Locations come from the engine's own KDE in bit-portable
    quant mode (see q_geo_locations_quant), so unlike w5_episodes (which
    borrows planted arithmetic locations) every stage here is the
    production lattice: the oracle replays prep (F3/G1/W2), the A2-A5
    quant KDE, brute-force kNN (twin of the cell-index join), W3
    run-compress, the W5 short-dwell fixpoint, and unknown-gap emission —
    ~70 chained CTEs, value-hash exact."""
    ev = _t(spark, sf_dir, "events")
    from dataclasses import replace
    from engine import locations as loc
    from engine.episodes import build_episodes, knn_assign
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    locs = loc.detect_locations_wholehost(gp, cfg, quant=True)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    return eps.select("host", F.col("seq").cast("long").alias("seq"),
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      "kind",
                      F.col("location_id").cast("long").alias("location_id"))


def _run_stream(spark, batch_df, build, name):
    """File-source -> streaming transform -> memory-sink harness shared by
    the stream_* driver queries: materialize `batch_df` as a single-batch
    parquet stream, run `build(stream_df)` to completion under
    processAllAvailable, and return the sink table.  Single-batch
    ingestion pins the final event-time watermark at
    floor(max_event_ts_ms) - the watermark delay (Spark tracks event-time
    stats in ms), which the paired oracle SQL replays exactly."""
    import tempfile

    path = tempfile.mkdtemp(prefix=f"{name}_")
    batch_df.coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (build(stream).writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _run_stream2(spark, left_df, right_df, build, name):
    """Two-source variant of _run_stream for stream-stream joins: both
    inputs become single-batch parquet file streams, `build(l, r)` runs to
    completion under processAllAvailable (the post-batch empty trigger
    evicts outer-join state), and the memory sink table is returned."""
    import tempfile

    paths = []
    streams = []
    for i, df in enumerate((left_df, right_df)):
        path = tempfile.mkdtemp(prefix=f"{name}_{i}_")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        schema = spark.read.parquet(path).schema
        streams.append(spark.readStream.schema(schema).parquet(path))
        paths.append(path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (build(*streams).writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# stream_interval_join window half-widths (seconds) and their us twins
_SSJ_BEFORE_S = 120
_SSJ_AFTER_S = 120


def q_stream_interval_join(spark, sf_dir):
    """STREAM-STREAM watermarked interval join under the exact-oracle
    gate (the one streaming family the suite lacked — every other §2.8 op
    is a single-input stateful aggregate/machine).  The geopoint stream
    is LEFT-OUTER joined to a concurrent place-ping stream on host with a
    ±120 s event-time window (engine/streaming.py::stream_interval_join);
    both sides are watermarked so join state is bounded.

    Emission semantics replayed by the SQL, all empirically pinned
    against Spark's state-eviction arithmetic:
      * matched pairs: with single-batch ingestion nothing is late, so
        the matched set is EXACTLY the batch interval join;
      * null-extended rows: a left row is emitted un-matched only when
        eviction PROVES no match can arrive — its event time satisfies
        tu_us <= (wm_ms - after_ms)*1000 - 1000 (Spark's state watermark
        carries a -1 ms allowance; equality at the threshold evicts,
        verified at microsecond resolution);
      * wm_ms = min over the two inputs of floor(max_event_us/1000) -
        delay_ms (the global watermark is the MIN across watermark
        nodes).
    Timestamps are the 30x-compressed integer-microsecond warc_ts the
    whole geo suite uses, so every comparison is exact int64 arithmetic
    in both engines."""
    from engine import streaming
    ev = _t(spark, sf_dir, "events")
    base = 1704067200000000
    uid = F.col("user_id").cast("long")
    ctu = (((F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(base))
            / F.lit(30)).cast("long") + F.lit(base))
    host = F.format_string("host%04d.example",
                           F.pmod(uid, F.lit(10000)).cast("int"))
    pts = ev.select(host.alias("host"),
                    F.col("event_id").cast("long").alias("pt_id"),
                    F.timestamp_micros(ctu).alias("warc_ts"))
    places = (ev.filter(F.pmod(F.col("event_id"), F.lit(16)) == 0)
              .select(host.alias("place_host"),
                      F.col("event_id").cast("long").alias("place_id"),
                      F.timestamp_micros(ctu).alias("place_ts")))
    out = _run_stream2(
        spark, pts, places,
        lambda l, r: streaming.stream_interval_join(
            l, r, key="host", right_key="place_host",
            left_ts="warc_ts", right_ts="place_ts",
            before_s=_SSJ_BEFORE_S, after_s=_SSJ_AFTER_S,
            watermark=_STREAM_WM, how="left_outer"),
        "stream_ssj_out")
    return out.select(
        "host", "pt_id",
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("pt_us"),
        F.col("place_id").cast("long").alias("place_id"),
        F.unix_micros(F.col("place_ts").cast("timestamp")).alias("place_us"))


def q_stream_episodes(spark, sf_dir):
    """STRUCTURED STREAMING under the exact-oracle gate: the stateful W3+W5
    episode machine (engine/streaming.py::stream_episodes_full,
    applyInPandasWithState + event-time watermark) runs over the
    kNN-assigned point stream (quant-KDE locations, see
    q_geo_episodes_quant) with a file source and a memory sink, and the
    emitted rows are replayed in SQL: with single-batch ingestion the
    final watermark is floor(max_ts_ms) - the watermark delay, a subset is closed iff its
    successor's first ts <= wm (emitting its W3/W5 episodes + the trailing
    unknown-gap row) or, for the tail subset, wm > last_ts + gap_s (no gap
    row) — the machine's exact rule.  Episode values are the same
    _subset_runs kernel the batch path runs, so the w5 chained-SQL replay
    applies verbatim; only the emission filter is streaming-specific."""
    ev = _t(spark, sf_dir, "events")
    from dataclasses import replace
    from engine import locations as loc
    from engine import streaming
    from engine.episodes import knn_assign
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    locs = loc.detect_locations_wholehost(gp, cfg, quant=True)
    assigned = knn_assign(gp, locs, DEFAULT, broadcast_locations=True)
    out = _run_stream(spark, assigned.select("host", "warc_ts", "location_id"),
                      lambda s: streaming.stream_episodes_full(
                          s, DEFAULT, watermark=_STREAM_WM),
                      "stream_eps_out")
    return out.select("host",
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      "kind",
                      F.col("location_id").cast("long").alias("location_id"))


def q_stream_sessionize(spark, sf_dir):
    """Streaming W2 under the exact-oracle gate: F.session_window gap
    sessionization (engine/streaming.py::stream_sessionize) over the raw
    page stream, event-time watermark, memory sink.  The SQL replays the
    session semantics exactly: session_window MERGES consecutive fixes
    while ts - prev <= gap_s (the == gap edge merges — verified against
    Spark, and identical to the batch W2 split rule `> gap_s`), window
    end = last_ts + gap_s, and append mode emits a session iff
    end <= final watermark = floor(max_ts_ms) - delay, in MICROSECONDS
    (Spark's eviction predicate compares the us timestamp against
    watermark_ms * 1000; emission at exact equality verified)."""
    ev = _t(spark, sf_dir, "events")
    from engine import streaming
    pts = web_pages_from_events(ev).select(
        F.regexp_extract("url", r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
        .alias("host"), "warc_ts")
    out = _run_stream(spark, pts,
                      lambda s: streaming.stream_sessionize(
                          s, DEFAULT, watermark=_STREAM_WM),
                      "stream_sess_out")
    return out.select("host",
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      F.col("n_points").cast("long").alias("n_points"))


def q_stream_w3_runs(spark, sf_dir):
    """The LOW-LATENCY W3 streaming machine under the exact-oracle gate:
    engine/streaming.py::stream_episodes (applyInPandasWithState,
    NoTimeout, no watermark) emits a label run the moment a location
    change or an observation gap closes it and withholds each host's open
    tail run.  Input: planted-location kNN assignments over the extracted
    point stream (the j1_knn_assign chain).  With single-batch ingestion
    and every host under one Arrow batch (largest driver-corpus host is
    ~100 points, far below arrow.maxRecordsPerBatch), the machine sees
    each host as ONE frame sorted by (warc_ts, url), so the SQL replay is
    exact: runs split where ts - prev > gap_s or the label changes
    (null-safe), an emitted run ends at its own last ts when the closing
    boundary is a gap (gap wins over a simultaneous label change) else at
    the successor run's first ts, and the final run per host is
    withheld."""
    from engine import streaming
    from engine.episodes import knn_assign
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.with_cell(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    assigned = knn_assign(pts, _event_locations(spark, sf_dir), DEFAULT,
                          broadcast_locations=True)
    out = _run_stream(spark,
                      assigned.select("host", "url", "warc_ts", "location_id"),
                      lambda s: streaming.stream_episodes(s, DEFAULT),
                      "stream_w3_out")
    return out.select("host",
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      F.col("location_id").cast("long").alias("location_id"),
                      F.col("n_points").cast("long").alias("n_points"))


def q_stream_dedup_exact(spark, sf_dir):
    """Streaming exact dedup (§2.10 twin) under the exact-oracle gate:
    dropDuplicatesWithinWatermark on the (xxhash64, md5, length) text key
    (engine/streaming.py::stream_dedup_exact) over the documents stream
    with a deterministic synthetic event time (doc arrival = epoch +
    doc_id seconds).  Single-batch ingestion starts at watermark 0, so
    the emitted set is exactly one row per distinct text; the output is
    projected to text-determined columns (md5, char length) so WHICH
    duplicate survived — nondeterministic under parallelism — never
    reaches the hash compare.  Oracle: SELECT DISTINCT over the same
    projection."""
    docs = _t(spark, sf_dir, "documents")
    from engine import streaming
    src = docs.select(
        F.timestamp_seconds(F.lit(1704067200).cast("long") + F.col("doc_id"))
        .alias("warc_ts"), "text")
    out = _run_stream(spark, src,
                      lambda s: streaming.stream_dedup_exact(
                          s, ts_col="warc_ts", text_col="text",
                          watermark=_STREAM_WM),
                      "stream_dedup_out")
    return out.select(F.md5(F.col("text").cast("binary")).alias("text_md5"),
                      F.length("text").cast("long").alias("n_chars"))


def q_stream_cell_density(spark, sf_dir):
    """Streaming raster (rolling heat map) under the exact-oracle gate:
    geopoint stream -> X3 interpolated mass sites -> native Hilbert cell
    encode -> watermarked 10-minute windowed density
    (engine/streaming.py::stream_cell_density, quant_ms=True: site mass
    floored to integer ms BEFORE the sum, the tile pyramid's
    quantization, so every window sum is an order-independent integer).
    The oracle replays the full chain — prep, interpolation, the native
    cell encode trig/FSM replay (_cell_encode_sql) — plus the streaming
    emission rule: tumbling window start = floor(ts_us / win_us) * win_us,
    emitted iff window end <= floor(max_site_ts_ms) - delay, in us."""
    ev = _t(spark, sf_dir, "events")
    from engine import streaming
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    out = _run_stream(spark, gp,
                      lambda s: streaming.stream_cell_density(
                          s, DEFAULT, window=_DENSITY_WIN,
                          watermark=_STREAM_WM, quant_ms=True),
                      "stream_dens_out")
    return out.select(epoch_s(F.col("window.start")).alias("window_s"),
                      "cell_id",
                      F.col("mass_ms").cast("long").alias("mass_ms"))


def q_tiles_mass_check(spark, sf_dir):
    """Driver-visible invariant for the Hilbert tile pyramid: the cell ids
    have no SQL twin, but MASS does — every pyramid level must carry
    exactly the total interpolated site mass, which equals the observed
    span-seconds of the cleaned sessionized trace (each segment spreads
    next_dt_s over its sites), computable in SQL from the same G1+W2
    chain the exact oracles replay.  Rounded to 1 decimal: double-sum
    order noise is ~1e-6 of the ~1e6-second total, margin 5e-2."""
    from engine import tiles
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.prep_points(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    sites = trace_prep.interpolate_sites(gp, DEFAULT)
    pyr = tiles.rollup_pyramid(tiles.cell_density(sites, DEFAULT), DEFAULT)
    return (pyr.groupBy(F.col("level").cast("long").alias("level"))
            .agg(F.round(F.sum("mass_s"), 1).alias("total_mass_s")))


def q_j4_pip(spark, sf_dir):
    """J4 over hexagonal polygons planted around each stop center."""
    from engine import tiles
    ev = _t(spark, sf_dir, "events")
    pts = trace_prep.with_cell(
        trace_prep.extract_points(web_pages_from_events(ev), DEFAULT), DEFAULT)
    locs = _event_locations(spark, sf_dir)
    hexes = spark.range(6).select((F.col("id").cast("double") * (3.14159265358979
                                   / 3.0)).alias("ang"))
    polys = (locs.crossJoin(hexes)
             .select((F.col("host")), (F.col("location_id")),
                     (F.col("lat") + 120.0 / 111320.0 * F.sin("ang")).alias("vlat"),
                     (F.col("lon") + 120.0 / 111320.0 * F.cos("ang")
                      / F.cos(F.radians("lat"))).alias("vlon"), "ang")
             .groupBy("host", "location_id")
             .agg(F.sort_array(F.collect_list(F.struct("ang", "vlon", "vlat")))
                  .alias("verts"))
             # arithmetic polygon id (hostnum*3 + stop) so the DuckDB oracle
             # can reproduce it (xxhash64 is not available there)
             .select((F.substring("host", 5, 4).cast("long") * F.lit(3)
                      + F.col("location_id")).alias("polygon_id"),
                     F.concat(F.transform("verts", lambda v:
                                          F.array(v["vlon"], v["vlat"])),
                              F.transform(F.slice("verts", 1, 1), lambda v:
                                          F.array(v["vlon"], v["vlat"])))
                     .alias("ring")))
    covered = tiles.with_cell_cover(polys, DEFAULT)
    return tiles.pip_join(pts, covered, DEFAULT)


def q_a9_cube(spark, sf_dir):
    """A9 — CUBE rollup over lineitem (grouping-set coverage)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n")))


def q_o3_setops(spark, sf_dir):
    """O3 — intersect/except: users with purchases but no errors, and
    users with both."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    only_buy = buyers.exceptAll(erring).withColumn("cohort", F.lit("buy_no_err"))
    both = buyers.intersect(erring).withColumn("cohort", F.lit("buy_and_err"))
    return only_buy.unionByName(both)


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (pipeline split operator): keep
    iff hash(key) mod 2^31 < fraction(stratum) * 2^31.  The driver query
    passes an arithmetic LCG as the hash so DuckDB replays the EXACT
    sample row-for-row (production default is xxhash64; same operator)."""
    ev = _t(spark, sf_dir, "events")
    h = (F.col("event_id").cast("long") * F.lit(2654435761) + F.lit(97))
    out = ops.sample_stratified(
        ev, {"click": 0.5, "purchase": 1.0, "view": 0.1}, "event_type",
        key="event_id", hash_expr=h)
    return out.select("event_id", "user_id", "event_type")


def q_x7_props_json(spark, sf_dir):
    """X7 — JSON extraction from the events props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"))


def q_geo_locations(spark, sf_dir):
    """A2-A5 over the events-derived corpus (rows-only; golden-tested vs the
    independent oracle on the datagen fixture in tests/)."""
    from engine.locations import detect_locations
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    locs = detect_locations(gp, DEFAULT)
    return locs.select("host", F.col("location_id").cast("long").alias("location_id"),
                       F.round("lat", 6).alias("lat"),
                       F.round("lon", 6).alias("lon"),
                       F.round("dwell_s", 3).alias("dwell_s"),
                       F.col("n_cells").cast("long").alias("n_cells"))


def q_geo_episodes(spark, sf_dir):
    """J1 + W3-W5 end to end (rows-only)."""
    from engine.episodes import build_episodes, knn_assign
    from engine.locations import detect_locations
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT).persist()
    locs = detect_locations(gp, DEFAULT)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    return eps.select("host", F.col("seq").cast("long").alias("seq"),
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      "kind",
                      F.col("location_id").cast("long").alias("location_id"))


def q_w5_episodes(spark, sf_dir):
    """The episode kernel (J1 + W3 run-compress + W5 short-dwell fixpoint +
    unknown gaps + global seq) under an EXACT chained-SQL oracle.  The KDE
    has no SQL twin, so locations come from the arithmetic
    _event_locations table (same trick as j1_knn_assign); everything else
    is the production path: trace prep, cell-index kNN join,
    build_episodes.  The W5 lattice is replayed in DuckDB as bounded
    chained demote+merge rounds exactly like the G1 jump fixpoint (see
    _w5_chain_sql: activity-run spans never change across rounds, so the
    fixpoint lands in one round; extra rounds are no-ops)."""
    from engine.episodes import build_episodes, knn_assign
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    locs = _event_locations(spark, sf_dir)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    return eps.select("host", F.col("seq").cast("long").alias("seq"),
                      epoch_s(F.col("start_ts")).alias("start_s"),
                      epoch_s(F.col("end_ts")).alias("end_s"),
                      "kind",
                      F.col("location_id").cast("long").alias("location_id"))


def q_a7_labeled_day_summary(spark, sf_dir):
    """A7 FULL (J2 labels wired in — the reference's headline 'time at
    home/work/study' report): the w5_episodes SQL-expressible episode path,
    label_locations (J2) against a known-places table planted AT the stop
    coordinates (labels home/work/study by location_id; nearest match is
    the stop itself at d=0), then the labeled per-day pivot
    (sinks.day_summary_labeled).  Exact oracle end to end."""
    from engine.episodes import build_episodes, knn_assign
    from engine.sinks import day_summary_labeled, label_locations
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    locs = _event_locations(spark, sf_dir)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    known = locs.select(
        "host",
        F.element_at(F.array(F.lit("home"), F.lit("work"), F.lit("study")),
                     F.col("location_id") + 1).alias("label"),
        "lat", "lon")
    labeled = label_locations(locs, known, DEFAULT)
    return day_summary_labeled(eps, labeled)


def q_a7_day_summary_episodes(spark, sf_dir):
    """A7 over episodes (REF day.py analog; rows-only)."""
    from engine.episodes import build_episodes, knn_assign
    from engine.locations import detect_locations
    from engine.sinks import day_summary
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT).persist()
    locs = detect_locations(gp, DEFAULT)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT)
    return day_summary(eps)


def q_geo_agreement(spark, sf_dir):
    """E3/A8 — runnable compare path: algorithm episodes vs a deterministic
    'ground truth' (same episodes with every 5th activity flipped to travel),
    so agreement lands strictly in (0, 1) per host.  Rows-only (episodes are
    kernel-derived); the metric itself is golden-tested in tests/."""
    from engine.episodes import build_episodes, knn_assign
    from engine.locations import detect_locations
    from engine.sinks import compare_to_ground_truth
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT).persist()
    locs = detect_locations(gp, DEFAULT)
    eps = build_episodes(knn_assign(gp, locs, DEFAULT,
                                    broadcast_locations=True), DEFAULT).persist()
    truth = eps.withColumn(
        "kind",
        F.when((F.col("kind") == "activity") & (F.col("seq") % 5 == 0),
               F.lit("travel")).otherwise(F.col("kind")))
    return compare_to_ground_truth(eps, truth).select(
        "host", "agreement", "overlap_total_s")


def _eps_quant(spark, sf_dir):
    """Shared quant-mode episode table for the exact-oracled A7/A8 twins —
    the same chain as q_geo_episodes_quant (prep -> quant KDE ->
    broadcast kNN -> W3-W5 kernel)."""
    from dataclasses import replace

    from engine import locations as loc
    from engine.episodes import build_episodes, knn_assign
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT)
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    locs = loc.detect_locations_wholehost(gp, cfg, quant=True)
    return build_episodes(knn_assign(gp, locs, DEFAULT,
                                     broadcast_locations=True), DEFAULT)


def q_a7_day_summary_quant(spark, sf_dir):
    """A7 over the FULL production episode chain under an exact oracle:
    day_summary on the quant-KDE episodes (see q_geo_episodes_quant), so
    the midnight split + per-kind second sums are value-hash-checked end
    to end.  The float-KDE twin stays as a7_day_summary_episodes
    (rows-only; same lattice, exp weights)."""
    from engine.sinks import day_summary
    return day_summary(_eps_quant(spark, sf_dir))


def q_geo_agreement_quant(spark, sf_dir):
    """E3/A8 over the FULL production episode chain under an exact oracle:
    the same deterministic ground-truth flip as q_geo_agreement (every 5th
    activity -> travel), but episodes come from the quant-KDE chain so the
    interval-overlap join + agreement ratio replay in SQL end to end."""
    from engine.sinks import compare_to_ground_truth
    eps = _eps_quant(spark, sf_dir).persist()
    try:
        truth = eps.withColumn(
            "kind",
            F.when((F.col("kind") == "activity") & (F.col("seq") % 5 == 0),
                   F.lit("travel")).otherwise(F.col("kind")))
        # eager-materialize the (per-host, tiny) result so the cached
        # episode chain can be released here instead of leaking one
        # cached table per run into the long-lived session.
        return compare_to_ground_truth(eps, truth).select(
            "host", "agreement", "overlap_total_s") \
            .localCheckpoint(eager=True)
    finally:
        eps.unpersist()


def q_geo_float_parity(spark, sf_dir):
    """Driver-visible parity gate for the four Gaussian-float flagship
    outputs — geo_locations, geo_episodes, a7_day_summary_episodes,
    geo_agreement, previously the suite's only rows-only queries: each
    float output is computed against its bit-portable quant twin at the
    SAME config (kde_time_threshold_s=_QUANT_THR_S, the quant twins'
    setting) and the diffs reduce to (metric, value) rows.  The two n_*
    anchors are true SQL computations (the quant KDE + episode CTE
    chains); the booleans pin measured sf0.01 margins with >=100x slack:
    locations |dlat| <= 5.0e-9 deg, |dlon| <= 9.5e-9 deg, rel dwell <=
    1.26e-4, episodes BYTE-identical (0/5065 mismatched rows), so day
    summaries and agreement follow exactly.  A float-kernel regression
    (flipped threshold cell, wrong cluster, broken centroid or dwell
    scale) breaks a boolean and the value hash."""
    from dataclasses import replace
    from engine import locations as loc
    from engine.episodes import build_episodes, knn_assign
    from engine.sinks import compare_to_ground_truth, day_summary
    ev = _t(spark, sf_dir, "events")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT).persist()
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    lf = loc.detect_locations_wholehost(gp, cfg, quant=False).persist()
    lq = loc.detect_locations_wholehost(gp, cfg, quant=True).persist()
    ef = build_episodes(knn_assign(gp, lf, DEFAULT,
                                   broadcast_locations=True),
                        DEFAULT).persist()
    eq = build_episodes(knn_assign(gp, lq, DEFAULT,
                                   broadcast_locations=True),
                        DEFAULT).persist()
    try:
        def metrics(stats, pairs):
            arr = F.array(*[F.struct(F.lit(k).alias("metric"),
                                     v.cast("double").alias("value"))
                            for k, v in pairs])
            return (stats.select(F.explode(arr).alias("m"))
                    .select("m.metric", "m.value"))

        # A2-A5: locations float vs quant
        fl = lf.select("host", "location_id",
                       F.col("lat").alias("flat"), F.col("lon").alias("flon"),
                       F.col("dwell_s").alias("fdw"),
                       F.col("n_cells").alias("fnc"))
        ql = lq.select("host", "location_id",
                       F.col("lat").alias("qlat"), F.col("lon").alias("qlon"),
                       F.col("dwell_s").alias("qdw"),
                       F.col("n_cells").alias("qnc"))
        lstat = fl.join(ql, ["host", "location_id"], "full").agg(
            F.count("qdw").alias("n_q"),
            F.sum((F.col("fdw").isNull() | F.col("qdw").isNull())
                  .cast("long")).alias("n_un"),
            F.sum((F.col("fnc") != F.col("qnc")).cast("long")).alias("n_nc"),
            F.max(F.abs(F.col("flat") - F.col("qlat"))).alias("dlat"),
            F.max(F.abs(F.col("flon") - F.col("qlon"))).alias("dlon"),
            F.max(F.abs(F.col("fdw") - F.col("qdw")) / F.col("qdw"))
             .alias("ddw"))
        lm = metrics(lstat, [
            ("n_locations_quant", F.col("n_q")),
            ("locations_aligned",
             (F.col("n_un") == 0) & (F.coalesce(F.col("n_nc"), F.lit(0)) == 0)),
            ("locations_latlon_tol_1e-6_met",
             (F.col("dlat") <= 1e-6) & (F.col("dlon") <= 1e-6)),
            ("locations_dwell_rtol_1e-2_met", F.col("ddw") <= 1e-2)])

        # J1+W3-W5: episodes float vs quant (byte-identical at sf0.01)
        fe = ef.select("host", "seq", F.col("kind").alias("fk"),
                       F.col("location_id").alias("fl"),
                       F.col("start_ts").alias("fs"),
                       F.col("end_ts").alias("fe_"))
        qe = eq.select("host", "seq", F.col("kind").alias("qk"),
                       F.col("location_id").alias("ql"),
                       F.col("start_ts").alias("qs"),
                       F.col("end_ts").alias("qe_"))
        same = (F.col("fk").eqNullSafe(F.col("qk"))
                & F.col("fl").eqNullSafe(F.col("ql"))
                & F.col("fs").eqNullSafe(F.col("qs"))
                & F.col("fe_").eqNullSafe(F.col("qe_")))
        estat = fe.join(qe, ["host", "seq"], "full").agg(
            F.count("qk").alias("n_q"),
            F.count(F.lit(1)).alias("n_all"),
            F.sum(same.cast("long")).alias("n_eq"))
        em = metrics(estat, [
            ("n_episodes_quant", F.col("n_q")),
            ("episodes_equal_floor_0.999_met",
             F.col("n_eq") >= 0.999 * F.col("n_all"))])

        # A7: per-day summaries of the two episode sets
        dfp = day_summary(ef).select(
            "host", "day", F.col("activity_s").alias("fa"),
            F.col("travel_s").alias("ft"), F.col("unknown_s").alias("fu"),
            F.col("n_activities").alias("fn"))
        dqp = day_summary(eq).select(
            "host", "day", F.col("activity_s").alias("qa"),
            F.col("travel_s").alias("qt"), F.col("unknown_s").alias("qu"),
            F.col("n_activities").alias("qn"))
        dstat = dfp.join(dqp, ["host", "day"], "full").agg(
            F.sum((F.col("fa").isNull() | F.col("qa").isNull())
                  .cast("long")).alias("n_un"),
            F.sum((F.col("fn") != F.col("qn")).cast("long")).alias("n_nb"),
            F.greatest(F.max(F.abs(F.col("fa") - F.col("qa"))),
                       F.max(F.abs(F.col("ft") - F.col("qt"))),
                       F.max(F.abs(F.col("fu") - F.col("qu"))))
             .alias("dmax"))
        dm = metrics(dstat, [
            ("day_summary_tol_1e-6_met",
             (F.col("n_un") == 0)
             & (F.coalesce(F.col("n_nb"), F.lit(0)) == 0)
             & (F.col("dmax") <= 1e-6))])

        # A8: agreement vs the deterministic every-5th flip, per mode
        def agree(eps):
            truth = eps.withColumn(
                "kind",
                F.when((F.col("kind") == "activity") & (F.col("seq") % 5 == 0),
                       F.lit("travel")).otherwise(F.col("kind")))
            return compare_to_ground_truth(eps, truth)
        af = agree(ef).select("host", F.col("agreement").alias("fag"),
                              F.col("overlap_total_s").alias("fov"))
        aq = agree(eq).select("host", F.col("agreement").alias("qag"),
                              F.col("overlap_total_s").alias("qov"))
        astat = af.join(aq, ["host"], "full").agg(
            F.sum((F.col("fag").isNull() | F.col("qag").isNull())
                  .cast("long")).alias("n_un"),
            F.max(F.abs(F.col("fag") - F.col("qag"))).alias("dag"),
            F.max(F.abs(F.col("fov") - F.col("qov"))).alias("dov"))
        am = metrics(astat, [
            ("agreement_tol_1e-6_met",
             (F.col("n_un") == 0) & (F.col("dag") <= 1e-6)
             & (F.col("dov") <= 1e-3))])

        # eager-materialize the 8 tiny rows so the cached chains release
        # here instead of leaking into the long-lived session
        return (lm.unionAll(em).unionAll(dm).unionAll(am)
                .localCheckpoint(eager=True))
    finally:
        for df in (eq, ef, lq, lf, gp):
            df.unpersist()


def q_geo_float_parity_sf01(spark, sf_dir):
    """The sf0.1 extension of geo_float_parity — the one place the float
    KDE kernel could previously drift UNOBSERVED was at scale factors
    other than the driver's sf0.01, so this row pins measured sf0.1
    margins regardless of the sf_dir the driver passes (the input is the
    fixed sf0.1 lattice).  Oracle split: hosts 0150-0299 are a TRUE SQL
    replay of the quant chains (per-host volume is constant across scale
    factors, so that slice is sf0.01-sized; the unrestricted replay
    spills ~100 GB of DuckDB temp), while the full-corpus counts and the
    margin booleans are measured literals the Spark side must reproduce
    from the data.  Measured at sf0.1:
    locations key-aligned with 10/2750 n_cells flips (threshold-boundary
    cells), |dlat| <= 7.66e-6 deg, |dlon| <= 1.57e-5 deg, rel dwell <=
    5.23e-2; episodes BYTE-IDENTICAL (49937/49937), so day summaries and
    agreement follow exactly and are not recomputed here.  Thresholds
    carry ~4x slack; a float-kernel regression (flipped threshold cell,
    wrong cluster, broken centroid/dwell scale) flips a boolean and the
    value hash."""
    from dataclasses import replace
    from engine import locations as loc
    from engine.episodes import build_episodes, knn_assign
    ev = spark.read.parquet(f"{_SF01_DIR}/events.parquet")
    gp = trace_prep.geopoints(web_pages_from_events(ev), DEFAULT).persist()
    cfg = replace(DEFAULT, kde_time_threshold_s=_QUANT_THR_S)
    lf = loc.detect_locations_wholehost(gp, cfg, quant=False).persist()
    lq = loc.detect_locations_wholehost(gp, cfg, quant=True).persist()
    ef = build_episodes(knn_assign(gp, lf, DEFAULT,
                                   broadcast_locations=True),
                        DEFAULT).persist()
    eq = build_episodes(knn_assign(gp, lq, DEFAULT,
                                   broadcast_locations=True),
                        DEFAULT).persist()
    try:
        def metrics(stats, pairs):
            arr = F.array(*[F.struct(F.lit(k).alias("metric"),
                                     v.cast("double").alias("value"))
                            for k, v in pairs])
            return (stats.select(F.explode(arr).alias("m"))
                    .select("m.metric", "m.value"))

        fl = lf.select("host", "location_id",
                       F.col("lat").alias("flat"), F.col("lon").alias("flon"),
                       F.col("dwell_s").alias("fdw"),
                       F.col("n_cells").alias("fnc"))
        ql = lq.select("host", "location_id",
                       F.col("lat").alias("qlat"), F.col("lon").alias("qlon"),
                       F.col("dwell_s").alias("qdw"),
                       F.col("n_cells").alias("qnc"))
        lstat = fl.join(ql, ["host", "location_id"], "full").agg(
            F.count("qdw").alias("n_q"),
            F.sum((F.col("fdw").isNull() | F.col("qdw").isNull())
                  .cast("long")).alias("n_un"),
            F.sum((F.col("fnc") != F.col("qnc")).cast("long")).alias("n_nc"),
            F.max(F.abs(F.col("flat") - F.col("qlat"))).alias("dlat"),
            F.max(F.abs(F.col("flon") - F.col("qlon"))).alias("dlon"),
            F.max(F.abs(F.col("fdw") - F.col("qdw")) / F.col("qdw"))
             .alias("ddw"))
        lm = metrics(lstat, [
            ("sf01_n_locations_quant", F.col("n_q")),
            ("sf01_locations_key_aligned", F.col("n_un") == 0),
            ("sf01_locations_ncells_flips_max50",
             F.coalesce(F.col("n_nc"), F.lit(0)) <= 50),
            ("sf01_locations_latlon_tol_met",
             (F.col("dlat") <= 3e-5) & (F.col("dlon") <= 6e-5)),
            ("sf01_locations_dwell_rtol_0.2_met", F.col("ddw") <= 0.2)])

        fe = ef.select("host", "seq", F.col("kind").alias("fk"),
                       F.col("location_id").alias("fl"),
                       F.col("start_ts").alias("fs"),
                       F.col("end_ts").alias("fe_"))
        qe = eq.select("host", "seq", F.col("kind").alias("qk"),
                       F.col("location_id").alias("ql"),
                       F.col("start_ts").alias("qs"),
                       F.col("end_ts").alias("qe_"))
        same = (F.col("fk").eqNullSafe(F.col("qk"))
                & F.col("fl").eqNullSafe(F.col("ql"))
                & F.col("fs").eqNullSafe(F.col("qs"))
                & F.col("fe_").eqNullSafe(F.col("qe_")))
        estat = fe.join(qe, ["host", "seq"], "full").agg(
            F.count("qk").alias("n_q"),
            F.count(F.lit(1)).alias("n_all"),
            F.sum(same.cast("long")).alias("n_eq"))
        em = metrics(estat, [
            ("sf01_n_episodes_quant", F.col("n_q")),
            ("sf01_episodes_equal_floor_0.999_met",
             F.col("n_eq") >= 0.999 * F.col("n_all"))])
        # subset anchors (hosts 0150-0299): the one slice the oracle can
        # afford to replay as TRUE SQL — per-host volume is constant
        # across scale factors (sf scales the HOST count), so this is an
        # sf0.01-sized chain over hosts the sf0.01 sweep never sees
        sub = F.substring(F.col("host"), 5, 4).cast("int").between(150, 299)
        sm = metrics(
            lq.filter(sub).agg(F.count(F.lit(1)).alias("nl")).crossJoin(
                eq.filter(sub).agg(F.count(F.lit(1)).alias("ne"))),
            [("sf01_sub_n_locations_quant", F.col("nl")),
             ("sf01_sub_n_episodes_quant", F.col("ne"))])
        return lm.unionAll(em).unionAll(sm).localCheckpoint(eager=True)
    finally:
        for df in (eq, ef, lq, lf, gp):
            df.unpersist()


def q_media_decode(spark, sf_dir):
    """Multimodal decode plumbing with an EXACT oracle: the deterministic
    fake decoder derives features from a sha-256 of the payload bytes, and
    the html payload is itself arithmetic-reproducible — so DuckDB's
    sha256() replays f0 (first digest word, little-endian, /2^32, float32)
    bit for bit.  The subset predicate is deterministic (event-id mod 20),
    not LIMIT, so both sides pick identical rows."""
    from engine import multimodal
    ev = _t(spark, sf_dir, "events")
    pages = web_pages_from_events(ev).filter(
        F.substring("url", -9, 9).cast("long") % 20 == 0)
    feats = multimodal.decode_features(multimodal.attach_media(pages))
    return feats.select("url",
                        F.round(F.element_at("features", 1).cast("double"), 6)
                        .alias("f0"), "decode_error")


def _phash_oracle_sql() -> str:
    """Replays perceptual_hash under the fake decoder from sha256 hex:
    8 little-endian uint32 words (the 16-dim feature vector repeats its
    8 digest words, so bits repeat with period 8 — contribution
    (1<<i) + (1<<(i+8)) per set bit), /2^32 in DOUBLE, float32 round,
    2^24 quantize, strict mean-threshold in pure BIGINTs."""
    words = []
    for i in range(8):
        terms = " + ".join(
            f"('0x' || substr(h, {2 * (4 * i + j) + 1}, 2))::BIGINT"
            + (f" * {256 ** j}" if j else "")
            for j in range(4))
        words.append(f"({terms})")
    qcols = ",\n         ".join(
        f"CAST(floor(CAST(CAST(CAST({w} AS DOUBLE) / 4294967296.0 AS FLOAT)"
        f" AS DOUBLE) * 16777216.0) AS BIGINT) AS q{i}"
        for i, w in enumerate(words))
    tot = " + ".join(f"q{i}" for i in range(8))
    ph = " + ".join(
        f"CASE WHEN 16 * q{i} > qtot THEN {(1 << i) + (1 << (i + 8))} "
        f"ELSE 0 END" for i in range(8))
    ns = " + ".join(
        f"CASE WHEN 16 * q{i} > qtot THEN 2 ELSE 0 END" for i in range(8))
    return f"""
WITH {_PAGES_CTE},
med AS (
  SELECT url,
         sha256('<html><head><meta charset="utf-8"/></head><body><p>' || text
                || '</p></body></html>') AS h
  FROM pages
  WHERE CAST(substr(url, length(url) - 8, 9) AS BIGINT) % 20 = 0
),
qv AS (
  SELECT url,
         {qcols}
  FROM med
),
qt AS (SELECT *, 2 * ({tot}) AS qtot FROM qv)
SELECT url, CAST({ph} AS BIGINT) AS phash, CAST({ns} AS BIGINT) AS n_set,
       CAST(NULL AS VARCHAR) AS decode_error
FROM qt
"""


def q_media_phash(spark, sf_dir):
    """Perceptual-hash plumbing (multimodal.perceptual_hash): aHash
    mean-threshold bit signature over decoded features, quantized to
    integers so the bit rule dim*q_i > sum(q) is exact; under the
    deterministic fake decoder the chain is arithmetic-reproducible
    from sha256 of the payload bytes, which the oracle replays word by
    word (little-endian parse, float32 round, 2^24 quantize) bit for
    bit."""
    from engine import multimodal
    ev = _t(spark, sf_dir, "events")
    pages = web_pages_from_events(ev).filter(
        F.substring("url", -9, 9).cast("long") % 20 == 0)
    return multimodal.perceptual_hash(pages)


def q_media_frame_sample(spark, sf_dir):
    """Multimodal frame/chunk sampling (deterministic offsets from payload
    size — pure native arithmetic, so DuckDB replays it exactly; payload
    bytes == characters because the fixture html is ASCII)."""
    from engine import multimodal
    ev = _t(spark, sf_dir, "events")
    pages = web_pages_from_events(ev).filter(
        F.substring("url", -9, 9).cast("long") % 20 == 0)
    out = multimodal.frame_sample(multimodal.attach_media(pages),
                                  every_bytes=32)
    return (out.select(
        "url", F.col("media_meta.n_bytes").alias("n_bytes"),
        F.posexplode("frame_offsets").alias("frame_idx", "offset"))
        .select("url", "n_bytes", F.col("frame_idx").cast("long")
                .alias("frame_idx"), "offset"))


# dup-span dedup driver params — single source of truth for Spark AND oracle
_SPAN_N = 10
_SPAN_MIN_COUNT = 2


def q_dedup_spans(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2022 shape): every 10-token
    span whose word 10-gram occurs >= 2 times corpus-wide is removed;
    overlapping spans merge into maximal islands.  The Spark side keys the
    corpus-wide count on xxhash64(gram) (8-byte exchange rows); the oracle
    groups the raw gram strings — identical output barring a 2^-64 hash
    collision, the same documented caveat as `dedup_exact`."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import dedup_spans
    return dedup_spans(docs, n=_SPAN_N, min_count=_SPAN_MIN_COUNT)


def q_dedup_paragraphs(spark, sf_dir):
    """C4/RefinedWeb cross-document paragraph dedup: the synthetic docs
    are single-line, so both sides first paragraph-ize deterministically
    with the same literal replace (' table ' -> newline; plain substring
    replace is left-to-right non-overlapping in Spark AND DuckDB, so the
    split points match byte-for-byte).  Every paragraph keeps only its
    globally first (doc_id, pos) occurrence; docs reassemble in order.
    Spark groups a (xxhash64, md5, len) triple — the dedup_exact identity
    contract — while the oracle groups raw text; identical barring a
    2^-190 collision."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" table "), F.lit("\n"))
        .alias("text"))
    from engine.text import dedup_paragraphs
    return dedup_paragraphs(docs).orderBy("doc_id")


def q_unigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring: fit a unigram LM on the simulated
    clean reference (doc_id % 13 == 0, the decontaminate split), score the
    whole corpus in bit-portable mean_freq mode (integer-exact sums + ONE
    IEEE division — the tfidf ratio-mode contract), so the DuckDB replay
    is value-hash exact.  The classical smoothed logprob mode shares the
    same fit/join plan and is pytest-golden vs numpy."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import unigram_lm_score
    lm = docs.filter(F.col("doc_id") % 13 == 0)
    return unigram_lm_score(docs, lm_corpus=lm, mode="mean_freq")


# chunking driver params — single source of truth for Spark AND oracle
_CHUNK_MAX, _CHUNK_STRIDE, _CHUNK_MIN = 32, 24, 8


def q_chunk_documents(spark, sf_dir):
    """Context-window sequence packing (BERT-style sliding windows:
    max 32 tokens, stride 24, ragged tails under 8 tokens dropped).
    MAP-ONLY plan — the DuckDB oracle replays the strided slicing and the
    joined chunk strings byte-exact."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import chunk_documents
    return chunk_documents(docs, max_tokens=_CHUNK_MAX,
                           stride=_CHUNK_STRIDE, min_tokens=_CHUNK_MIN)


_PACK_CAP = 64


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (engine/text.py::pack_sequences):
    concatenate each source's documents in doc_id order into one token
    stream, split every 64 tokens; one row per (doc × bin), documents
    straddling a boundary split across rows.  ONE exchange (the
    per-source running-offset window) + a narrow explode/slice — the
    oracle replays the cumsum, the DIV bin math and the token slices
    byte-exact."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import pack_sequences
    return pack_sequences(docs, capacity=_PACK_CAP, group_col="source",
                          id_col="doc_id")


def q_quality_buckets(spark, sf_dir):
    """CCNet head/middle/tail split over the unigram-LM scores, exact mode
    (global ntile, deterministic (score desc, id) tiebreak) — the oracle
    twin of the approx-quantile 100-TB path, which is covered by a
    population-tolerance pytest instead."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import quality_buckets, unigram_lm_score
    lm = docs.filter(F.col("doc_id") % 13 == 0)
    scored = unigram_lm_score(docs, lm_corpus=lm, mode="mean_freq")
    return quality_buckets(scored, n_buckets=3, mode="exact")


# mixture-resampling driver params — single source of truth for Spark AND
# oracle.  _MIX_W replicates resample_mixture's own normalization (same
# Python float ops, same dict order) so the SQL literals are bit-identical
# to the fractions the operator derives.
_MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_W = {s: float(w) / float(sum(_MIX_TARGETS.values()))
          for s, w in _MIX_TARGETS.items()}


def q_resample_mixture(spark, sf_dir):
    """Data-mixing resample: downsample three sources to a 50/30/20 output
    mixture (N = min(n_s/w_s), f_s = w_s*N/n_s, deterministic LCG-hash
    keep rule) — the oracle recomputes the fractions from the same counts
    with the same IEEE double arithmetic and replays the sample
    row-for-row."""
    docs = _t(spark, sf_dir, "documents")
    from engine.ops import resample_mixture
    h = (F.col("doc_id").cast("long") * F.lit(2654435761) + F.lit(97))
    out = resample_mixture(docs, _MIX_TARGETS, "source",
                           key="doc_id", hash_expr=h)
    return out.select("doc_id", "source")


# PQ driver params — single source of truth for Spark AND oracle
_PQ_M, _PQ_CODES, _PQ_ITERS, _PQ_K, _PQ_DIM, _PQ_QMOD = 4, 16, 2, 3, 64, 50


def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (FAISS IndexPQ shape): 4 subspace
    codebooks of 16 codes trained in one pass per iteration, database
    stored as 4 codes/vector, queries scored by asymmetric-distance LUT
    sums with a per-batch partial top-k.  EXACT DuckDB oracle: all four
    subspace Lloyd chains, the code assignment, the LUT terms (same
    left-to-right folds), and the ((t0+t1)+t2)+t3 accumulation are
    replayed value-for-value."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import pq_adc_topk
    queries_df = emb.filter(F.col("vec_id") % _PQ_QMOD == 0)
    return pq_adc_topk(emb, queries_df, k=_PQ_K, m=_PQ_M,
                       n_codes=_PQ_CODES, iters=_PQ_ITERS, dim=_PQ_DIM)


# IVFPQ driver params — single source of truth for Spark AND oracle
_IVFPQ_CELLS, _IVFPQ_IC, _IVFPQ_M, _IVFPQ_CODES, _IVFPQ_IP = 4, 2, 4, 8, 2


def q_ivfpq_topk(spark, sf_dir):
    """IndexIVFPQ in exhaustive mode (nprobe == n_cells): coarse cells,
    grid-rounded centroids, integer residuals, residual PQ codebooks, and
    per-(query, cell) ADC tables — the complete billion-vector search
    composition, with EVERY stage (coarse Lloyd chain, rounding,
    residual subtraction, all m residual PQ chains, LUT folds, ADC
    accumulation) replayed value-exact in one DuckDB query.  The
    nprobe << n_cells regime is recall-property-tested in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    from engine.similarity import ivfpq_topk
    queries_df = emb.filter(F.col("vec_id") % _PQ_QMOD == 0)
    return ivfpq_topk(emb, queries_df, k=_PQ_K, n_cells=_IVFPQ_CELLS,
                      m=_IVFPQ_M, n_codes=_IVFPQ_CODES,
                      iters_coarse=_IVFPQ_IC, iters_pq=_IVFPQ_IP,
                      dim=_PQ_DIM)


def q_ivfpq_recall(spark, sf_dir):
    """Driver-visible IVFPQ quality gate at PRODUCTION nprobe (nprobe=3 of
    n_cells=8 — the sub-unit-recall regime ivfpq_topk's exhaustive-mode
    exact oracle cannot see): the approximate top-3 is scored against the
    exact squared-L2 truth and against the same index scanned
    exhaustively, reduced to (metric, value) rows.  Raw recalls are
    engine-hash-dependent (coarse sample + PQ codebooks have no SQL twin
    off the exhaustive path), so the oracle pins the deterministic
    invariants: n_truth10 is a TRUE SQL computation (exact-L2 top-10 pair
    count) and the floors carry regeneration margin under the measured
    sf0.01 values (precision-in-true-top10 0.900, recall-vs-exhaustive
    0.767 at m=16/n_codes=64 — synthetic near-uniform embeddings make
    absolute top-3 recall inherently noisy, which is exactly why the gate
    scores against top-10 and against the exhaustive scan).  A routing or
    ADC bug sends both toward the ~0.06 random baseline."""
    from engine.similarity import ivfpq_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % _PQ_QMOD == 0)
    kw = dict(k=_PQ_K, m=16, n_codes=64, iters_coarse=2, iters_pq=3,
              dim=_PQ_DIM)
    got = ivfpq_topk(emb, q, n_cells=8, nprobe=3, **kw).select("a", "b")
    exh = ivfpq_topk(emb, q, n_cells=8, nprobe=8, **kw).select("a", "b")
    db = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    qq = q.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    d2 = F.aggregate(F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda acc, v: acc + v)
    w = Window.partitionBy("a").orderBy(F.col("d2").asc(), F.col("b").asc())
    t10 = (qq.crossJoin(db).filter(F.col("a") != F.col("b"))
           .withColumn("d2", d2)
           .withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= 10).select("a", "b"))
    t10c = t10.agg(F.count(F.lit(1)).alias("n_truth10"))
    gotc = got.agg(F.count(F.lit(1)).alias("n_got"))
    hit_exh = got.join(exh, ["a", "b"], "left_semi") \
                 .agg(F.count(F.lit(1)).alias("n_hit_exh"))
    hit_t10 = got.join(t10, ["a", "b"], "left_semi") \
                 .agg(F.count(F.lit(1)).alias("n_hit_t10"))
    base = (t10c.crossJoin(gotc).crossJoin(hit_exh).crossJoin(hit_t10)
            .crossJoin(exh.agg(F.count(F.lit(1)).alias("n_exh"))))
    prec10 = F.col("n_hit_t10").cast("double") / F.col("n_got")
    rec_exh = F.col("n_hit_exh").cast("double") / F.col("n_exh")
    rows = F.array(
        F.struct(F.lit("n_truth10").alias("metric"),
                 F.col("n_truth10").cast("double").alias("value")),
        F.struct(F.lit("prec_in_top10_floor_0.70_met").alias("metric"),
                 (prec10 >= 0.70).cast("double").alias("value")),
        F.struct(F.lit("exh_recall_floor_0.60_met").alias("metric"),
                 (rec_exh >= 0.60).cast("double").alias("value")))
    return base.select(F.explode(rows).alias("m")).select("m.metric",
                                                          "m.value")


# BM25 driver params — single source of truth for Spark AND oracle
_BM25_TERMS = ["join", "hash", "scan", "zigzag"]   # last is absent: df = 0
_BM25_K, _BM25_K1, _BM25_B = 15, 1.2, 0.75


def q_bm25_topk(spark, sf_dir):
    """BM25 keyword search over the documents corpus in bit-portable
    ratio-idf mode: postings-style term prefilter before any shuffle,
    pinned-order per-doc fold, EXACT DuckDB oracle recomputing idf/avgdl
    from the same counts with the same IEEE expression tree.  The Lucene
    ln(1+r) mode shares the plan and is pytest-golden."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import bm25_topk
    return bm25_topk(docs, _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)


def q_stream_cdc_upsert(spark, sf_dir):
    """Streaming CDC ingestion end-to-end (engine/streaming.py::
    stream_upsert -> catalog.write_cdc_delta/read_merge_on_read/
    compact_cdc_table): the events table becomes a 4-file CDC stream
    (key=user_id, seq=event_id, 'error' rows are deletes) drained with
    availableNow + maxFilesPerTrigger=1, so MULTIPLE foreachBatch
    micro-batches each commit a reduced merge-on-read delta with
    exactly-once batch idempotence; the table is then compacted and the
    final state returned.  The per-key max-seq fold is associative, so
    the result is independent of batch boundaries and exactly matches a
    batch oracle replaying the same fold.  At 100 TB this is the
    O(batch)-per-commit ingest shape (the base never rewrites on
    ingest; compaction amortizes read fan-in)."""
    import tempfile

    from engine import catalog, streaming
    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("k"), F.col("value").alias("v"),
        F.col("event_type").alias("etype"),
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    src = tempfile.mkdtemp(prefix="cdc_src_")
    tbl = tempfile.mkdtemp(prefix="cdc_tbl_")
    ck = tempfile.mkdtemp(prefix="cdc_ck_")
    changes.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(changes.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming.stream_upsert(stream, tbl, "k", ck)
    q.awaitTermination()
    catalog.compact_cdc_table(spark, tbl, "k")
    return catalog.read_merge_on_read(spark, tbl, "k")


def q_stream_curation(spark, sf_dir):
    """END-TO-END streaming curation (the streaming twin of
    curation_pipeline): documents become a 4-file stream drained with
    availableNow + maxFilesPerTrigger=1 (multiple micro-batches), each
    batch flows through engine/streaming.py::stream_curation (token-gate
    -> watermarked exact dedup) into stream_upsert's exactly-once CDC
    sink keyed by the text md5; the table is compacted and its final
    state returned.  Output columns are text-determined (md5, char
    length, token count), so WHICH duplicate arrived first —
    batch-boundary-dependent — never reaches the hash compare, and the
    arrival span (doc_id seconds, max ~5000 s) sits far inside the 4 h
    watermark so no first-arrival can be late-dropped.  Oracle: the
    batch replay — token gate + SELECT DISTINCT over the same
    projection."""
    import tempfile

    from engine import catalog, streaming
    from engine.text import tokens_col
    docs = _t(spark, sf_dir, "documents")
    src_df = docs.select(
        F.timestamp_seconds(F.lit(1704067200).cast("long") + F.col("doc_id"))
        .alias("warc_ts"), "text")
    src = tempfile.mkdtemp(prefix="cur_src_")
    tbl = tempfile.mkdtemp(prefix="cur_tbl_")
    ck = tempfile.mkdtemp(prefix="cur_ck_")
    src_df.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(src_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    curated = streaming.stream_curation(stream, min_tokens=_CUR_MINTOK,
                                        watermark=_STREAM_WM)
    changes = curated.select(
        F.md5(F.col("text").cast("binary")).alias("k"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tok"),
        F.lit("U").alias("op"),
        F.length("text").cast("long").alias("seq"))
    q = streaming.stream_upsert(changes, tbl, "k", ck)
    q.awaitTermination()
    catalog.compact_cdc_table(spark, tbl, "k")
    return catalog.read_merge_on_read(spark, tbl, "k").select(
        "k", "n_chars", "n_tok")


def q_cdc_time_travel(spark, sf_dir):
    """Snapshot time travel on the merge-on-read CDC table (the Iceberg
    VERSION AS OF read): three deterministic delta commits with a
    compaction in between, then the table read AS OF the pre-compaction
    snapshot AND at the head.  The as-of view reconstructs from the
    manifest's snapshot LOG — the historical delta files remain readable
    after compaction because compaction swaps the manifest atomically
    and never deletes files — so the oracle can replay both views as
    per-key max-seq folds over the matching seq slices."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.col("user_id").alias("k"), F.col("value").alias("v"),
        F.col("event_type").alias("etype"),
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    tbl = tempfile.mkdtemp(prefix="cdc_tt_")
    # batch order must follow seq order (the CDC contract: a later batch
    # supersedes the compacted base regardless of seq — binlog position
    # and commit order are the same order), so slice by seq RANGE
    mx = int(ch.agg(F.max("seq")).collect()[0][0])
    t1, t2 = mx // 3, 2 * mx // 3
    catalog.write_cdc_delta(ch.filter(F.col("seq") <= t1), tbl, 0, "k")
    catalog.write_cdc_delta(ch.filter((F.col("seq") > t1)
                                      & (F.col("seq") <= t2)), tbl, 1, "k")
    catalog.compact_cdc_table(spark, tbl, "k")          # snapshot 2
    catalog.write_cdc_delta(ch.filter(F.col("seq") > t2), tbl, 2, "k")
    past = catalog.read_merge_on_read(spark, tbl, "k", as_of=1)
    head = catalog.read_merge_on_read(spark, tbl, "k")
    return (past.withColumn("snap", F.lit(1).cast("long"))
            .unionByName(head.withColumn("snap", F.lit(3).cast("long"))))


def q_cdc_snapshot_diff(spark, sf_dir):
    """Net changelog between two snapshots (the Iceberg incremental-read
    shape — what a downstream consumer replays to move its copy from
    snapshot A to B without re-reading the table): the cdc_time_travel
    table's pre-compaction snapshot diffed against the head.  Per key:
    I (new at B), D (gone at B), U (payload changed); keys whose net
    state is unchanged emit nothing.  Oracle replays both folds and the
    full-outer diff with IS DISTINCT FROM semantics."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.col("user_id").alias("k"), F.col("value").alias("v"),
        F.col("event_type").alias("etype"),
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    tbl = tempfile.mkdtemp(prefix="cdc_diff_")
    mx = int(ch.agg(F.max("seq")).collect()[0][0])
    t1, t2 = mx // 3, 2 * mx // 3
    catalog.write_cdc_delta(ch.filter(F.col("seq") <= t1), tbl, 0, "k")
    catalog.write_cdc_delta(ch.filter((F.col("seq") > t1)
                                      & (F.col("seq") <= t2)), tbl, 1, "k")
    catalog.compact_cdc_table(spark, tbl, "k")
    catalog.write_cdc_delta(ch.filter(F.col("seq") > t2), tbl, 2, "k")
    d = catalog.diff_snapshots(spark, tbl, "k", from_snap=1)
    return (d.select("k", "op", "old_v", "new_v", "old_etype", "new_etype")
            .orderBy("k"))


def q_cdc_incr_agg(spark, sf_dir):
    """Self-maintainable materialized view over the MOR CDC table
    (engine/catalog.py::incr_agg_apply): a grouped (count, sum) view is
    bootstrapped with ONE full aggregation over the first batch's state,
    then maintained DIFFERENTIALLY through two more CDC batches — each
    update touches only the batch plus the pre-batch rows of affected
    keys (left-semi probe), never re-aggregating the table.  The oracle
    recomputes the view from scratch over the final folded state
    (per-key max-seq winner, delete winners dropped): incremental ==
    full recompute is the exactness contract.  Values enter as
    floor-cents int64 so every sum is order-independent."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    tbl = tempfile.mkdtemp(prefix="cdc_incr_")
    mx = int(ch.agg(F.max("seq")).collect()[0][0])
    t1, t2 = mx // 3, 2 * mx // 3
    b0 = ch.filter(F.col("seq") <= t1)
    b1 = ch.filter((F.col("seq") > t1) & (F.col("seq") <= t2))
    b2 = ch.filter(F.col("seq") > t2)
    catalog.write_cdc_delta(b0, tbl, 0, "k")
    agg = (catalog.read_merge_on_read(spark, tbl, "k")
           .groupBy("g").agg(F.count(F.lit(1)).alias("cnt"),
                             F.sum("v").alias("total")))
    for i, b in ((1, b1), (2, b2)):
        pre = catalog.read_merge_on_read(spark, tbl, "k")
        agg = catalog.incr_agg_apply(agg, pre, b, "k", "g", "v")
        catalog.write_cdc_delta(b, tbl, i, "k")
    return agg.select("g", "cnt", "total")


def q_cdc_schema_evolution(spark, sf_dir):
    """Iceberg ADD COLUMN schema evolution on the MOR CDC table: batch 0
    writes (doc_id, lang), batch 1 adds `src`, a compaction folds the
    union schema into the base (pre-evolution rows carry typed NULLs),
    and batch 2 adds `wc` plus deletes — the head view resolves columns
    BY NAME across files written under three different schemas.  The
    oracle replays each batch with explicit NULL casts for the columns
    that didn't exist yet, folds per-key max-seq winners, and matches by
    value hash (NULLs included)."""
    import tempfile

    from engine import catalog
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    b0 = (docs.filter(d % 3 == 0)
          .select("doc_id", "lang", F.lit("U").alias("op"),
                  F.lit(1).cast("int").alias("seq")))
    b1 = (docs.filter((d % 3 == 1) | (d % 6 == 0))
          .select("doc_id", "lang", F.col("source").alias("src"),
                  F.lit("U").alias("op"), F.lit(2).cast("int").alias("seq")))
    b2 = (docs.filter(d % 5 == 0)
          .select("doc_id", "lang", F.col("source").alias("src"),
                  F.length("text").cast("long").alias("wc"),
                  F.when(d % 15 == 0, F.lit("D")).otherwise(F.lit("U"))
                  .alias("op"), F.lit(3).cast("int").alias("seq")))
    tbl = tempfile.mkdtemp(prefix="cdc_se_")
    catalog.write_cdc_delta(b0, tbl, 0, "doc_id")
    catalog.write_cdc_delta(b1, tbl, 1, "doc_id")
    catalog.compact_cdc_table(spark, tbl, "doc_id")
    catalog.write_cdc_delta(b2, tbl, 2, "doc_id")
    head = catalog.read_merge_on_read(spark, tbl, "doc_id")
    return head.select("doc_id", "lang", "src", "wc").orderBy("doc_id")


def q_partition_evolution(spark, sf_dir):
    """Iceberg partition-spec evolution: generation 0 of the table is
    partitioned by days(ts) only, generation 1 evolves the spec to
    (days(ts), bucket(8, user)) — WITHOUT rewriting generation 0 (the
    100-TB point: evolving the spec improves pruning for future writes
    at zero retroactive cost).  A (day, user-bucket) read statically
    prunes gen 1 on BOTH columns but gen 0 only on the day — the
    pre-evolution data contributes all of that day's rows, the Iceberg
    read contract (pruning power changes, correctness never).  The
    oracle replays exactly that per-generation semantics."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    tbl = tempfile.mkdtemp(prefix="pevo_")
    catalog.write_evolved_gen(
        ev.filter(F.col("event_id") % 2 == 0), tbl, 0, {"ts_day": day})
    catalog.write_evolved_gen(
        ev.filter(F.col("event_id") % 2 == 1), tbl, 1,
        {"ts_day": day, "user_bucket": F.pmod(F.col("user_id"), F.lit(8))})
    out = catalog.read_evolved(
        spark, tbl, part_filters={"ts_day": "2024-01-03", "user_bucket": 3},
        logical_cols=["event_id", "user_id"])
    return out.select("gen_id", "event_id", "user_id") \
              .orderBy("event_id")


def q_cdc_incr_minmax(spark, sf_dir):
    """The non-self-maintainable matview half (incr_minmax_apply): a
    grouped (min, max, cnt) view bootstrapped from the first batch's
    state, then maintained through two CDC batches by rescanning ONLY
    affected groups — a deleted extremum cannot be subtracted out, so
    the bounded group rescan replaces incr_agg_apply's pure delta math.
    Oracle = full recompute over the final folded state; incremental ==
    full recompute is the contract.  Values are floor-cents int64."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    tbl = tempfile.mkdtemp(prefix="cdc_mm_")
    mx = int(ch.agg(F.max("seq")).collect()[0][0])
    t1, t2 = mx // 3, 2 * mx // 3
    b0 = ch.filter(F.col("seq") <= t1)
    b1 = ch.filter((F.col("seq") > t1) & (F.col("seq") <= t2))
    b2 = ch.filter(F.col("seq") > t2)
    catalog.write_cdc_delta(b0, tbl, 0, "k")
    agg = (catalog.read_merge_on_read(spark, tbl, "k")
           .groupBy("g").agg(F.min("v").alias("mn"),
                             F.max("v").alias("mx"),
                             F.count(F.lit(1)).alias("cnt")))
    for i, b in ((1, b1), (2, b2)):
        pre = catalog.read_merge_on_read(spark, tbl, "k")
        agg = catalog.incr_minmax_apply(agg, pre, b, "k", "g", "v")
        catalog.write_cdc_delta(b, tbl, i, "k")
    return agg.select("g", "mn", "mx", "cnt")


def _scd2_changes(docs):
    """Deterministic 5-wave change log over documents (the q_cdc_merge
    synthesis pattern): %42 keys walk a full V1 -> V2 -> DELETE -> V3
    re-insert lifecycle; %17 keys are net-new inserts."""
    def ch(pred, key, text, op, seq):
        return (docs.filter(pred)
                .select(key.cast("long").alias("doc_id"),
                        text.alias("text"), F.lit(op).alias("op"),
                        F.lit(seq).cast("int").alias("seq")))
    d = F.col("doc_id")
    return (
        ch(d % 7 == 0, d, F.concat(F.lit("V1:"), F.col("lang")), "U", 1)
        .unionByName(ch(d % 14 == 0, d,
                        F.concat(F.lit("V2:"), F.col("source")), "U", 2))
        .unionByName(ch(d % 17 == 0, d + 10000,
                        F.concat(F.lit("NEW:"), d.cast("string")), "I", 2))
        .unionByName(ch(d % 21 == 0, d, F.lit("DEL"), "D", 3))
        .unionByName(ch(d % 42 == 0, d,
                        F.concat(F.lit("V3:"), d.cast("string")), "I", 4)))


def _scd2_out(dim):
    return dim.select(
        "doc_id", "text", F.col("eff_from").cast("int").alias("eff_from"),
        F.coalesce(F.col("eff_to"), F.lit(-1)).cast("int").alias("eff_to"),
        F.col("is_current").cast("bigint").alias("is_current"))


def q_scd2_build(spark, sf_dir):
    """SCD Type-2 dimension build (engine/catalog.py::scd2_build): the
    warehouse dimension-HISTORY shape beside merge_upsert's type-1
    snapshot — one version row per I/U change with [eff_from, eff_to)
    validity in CDC seq coordinates, deletes closing the prior version
    and emitting nothing (a %42 key walks U -> U -> D -> re-insert, so
    every lifecycle edge is in the output).  ONE (key) window exchange
    over the change log only; no floats are created, so the oracle's
    lead()-window replay is value-hash exact."""
    from engine.catalog import scd2_build
    docs = _t(spark, sf_dir, "documents")
    return _scd2_out(scd2_build(_scd2_changes(docs), "doc_id"))


def q_scd2_apply(spark, sf_dir):
    """Incremental SCD2 maintenance (engine/catalog.py::scd2_apply): the
    dimension is built from the first two CDC waves, then waves 3-4
    apply as a batch — the dimension NEVER shuffles (one broadcastable
    left join against the batch's per-key first-seq + a map-only eff_to
    close on current rows; new versions come from an scd2_build over the
    batch alone).  The oracle is the FULL-log lead()-window build: the
    query is exact evidence of the apply-equals-rebuild contract the
    pytest pins at every split point."""
    from engine.catalog import scd2_apply, scd2_build
    docs = _t(spark, sf_dir, "documents")
    log = _scd2_changes(docs)
    dim = scd2_build(log.filter(F.col("seq") <= 2), "doc_id")
    out = scd2_apply(dim, log.filter(F.col("seq") >= 3), "doc_id")
    return _scd2_out(out)


# heavy-hitter sketch params — single source of truth for Spark AND oracle.
# The sf corpus vocabulary is 31 distinct tokens: k=48 >= vocab makes the
# MG summary provably EXACT (no decrement ever fires), k=12 < vocab forces
# the decrement path under the n/(k+1) bound.
_MG_K_EXACT, _MG_K_LOSSY = 48, 12


def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters over document tokens at k >= vocabulary
    size: the sketch PLAN runs in full (per-partition mapInPandas
    summaries, tiny counter-merge exchange, enveloped final reduction —
    the corpus never explodes into a token-level shuffle), but because no
    counter is ever evicted the result provably EQUALS the exact token
    counts, so a plain tokenize+count DuckDB oracle checks it value-for-
    value.  At 100 TB this is the 'which domains/tokens dominate' query
    answered with KB of exchange instead of a corpus-wide explode."""
    from engine.sketch import heavy_hitters_mg
    return heavy_hitters_mg(_t(spark, sf_dir, "documents"), k=_MG_K_EXACT)


def q_heavy_hitters_gate(spark, sf_dir):
    """Sub-capacity Misra-Gries gate (k=12 < vocab=31, so decrements DO
    fire): checks the PODS'12 mergeable-summary guarantees against the
    exact twin — est never exceeds truth, undercount <= n/(k+1), every
    token with true count > n/(k+1) is present, summary size <= k.  The
    exact-side scalars (n_tokens, vocab, n_guaranteed) are true SQL
    computations; a merge bug (over-subtraction, double count, dropped
    counter) flips a boolean and fails the value hash."""
    from engine.sketch import exact_token_counts, heavy_hitters_mg
    docs = _t(spark, sf_dir, "documents")
    k = _MG_K_LOSSY
    hh = heavy_hitters_mg(docs, k=k)
    ex = exact_token_counts(docs)
    j = ex.join(hh, "token", "full")
    st = j.agg(
        F.sum("n").alias("n_tokens"),
        F.count("n").alias("vocab"),
        F.sum(F.when(F.col("est").isNotNull(), 1).otherwise(0)).alias("sk_sz"),
        F.min(F.when(F.col("est").isNotNull(),
                     (F.col("est") <= F.col("n")).cast("int"))).alias("under"),
    ).collect()[0]
    n, bound = st["n_tokens"], st["n_tokens"] / (k + 1)
    g = j.agg(
        F.sum(F.when(F.col("n") > F.lit(bound), 1).otherwise(0))
         .alias("n_guaranteed"),
        F.min(F.when(F.col("n") > F.lit(bound),
                     F.col("est").isNotNull().cast("int"))).alias("present"),
        F.min(F.when(F.col("est").isNotNull(),
                     (F.coalesce(F.col("n"), F.lit(0)) - F.col("est")
                      <= F.lit(bound)).cast("int"))).alias("bound_ok"),
    ).collect()[0]
    rows = [("n_tokens", float(n)), ("vocab", float(st["vocab"])),
            ("n_guaranteed", float(g["n_guaranteed"])),
            ("sketch_size_le_k", 1.0 if st["sk_sz"] <= k else 0.0),
            ("underestimate_ok", float(st["under"])),
            ("guaranteed_present", float(g["present"])
             if g["present"] is not None else 1.0),
            ("bound_met", float(g["bound_ok"]))]
    return spark.createDataFrame(rows, "metric string, value double")


def q_gapfill_locf(spark, sf_dir):
    """Hypertable-style time_bucket + gap-fill resample: events
    downsampled to hourly buckets per user (count + last raw value under
    a deterministic order), missing buckets materialized from a
    sequence-explode spine, values carried forward with an ignore-nulls
    window.  Bucket math is integer epoch-micros DIV, the carried value
    is a raw column pick (never arithmetic), so every cell is
    bit-portable.  One granularity-reducing exchange at (user, bucket),
    then per-user tiny aggregates — the resample shape that stays cheap
    at 100 TB because the wide data reduces BEFORE the spine join."""
    from engine.ops import gapfill_locf
    return gapfill_locf(_t(spark, sf_dir, "events"), "user_id", "ts",
                        "value", ["event_id"], bucket_s=3600) \
        .drop("bucket_ts")


def q_gapfill_interp(spark, sf_dir):
    """Linear-interpolation gap fill (the hypertable `interpolate` twin
    beside LOCF): gap buckets take the lerp between the nearest observed
    buckets on each side; non-gap buckets keep their raw value;
    leading/trailing gaps are NULL.  One subtract/divide/multiply/add
    IEEE chain over raw value pairs and exact integer bucket distances,
    replayed with the identical expression tree in the oracle — so even
    the float cells are value-hash exact.  All four window passes share
    the one (user, bucket-order) Window exchange."""
    from engine.ops import gapfill_locf
    g = gapfill_locf(_t(spark, sf_dir, "events"), "user_id", "ts",
                     "value", ["event_id"], bucket_s=3600, interpolate=True)
    return g.select("user_id", "bucket", "n_events", "val_interp", "is_gap")


def q_unpivot_melt(spark, sf_dir):
    """UNPIVOT (wide->long melt) of the four lineitem measures into
    (measure, val) via Spark's Expand — a map-only reshape (zero
    exchange until the aggregate) — then one partial-agg pass per
    measure.  min/max pass raw doubles through untouched; the sum is
    floor-cents int64 so it is order-independent and exact in any
    engine.  The long-form contract is what makes per-measure quality
    dashboards one groupBy instead of N column scans."""
    li = _t(spark, sf_dir, "lineitem")
    up = li.unpivot(["l_orderkey", "l_linenumber"],
                    ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                    "measure", "val")
    return (up.groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val"),
                 F.sum(F.floor(F.col("val") * 100)).alias("sum_cents")))


def q_lateral_topk(spark, sf_dir):
    """LATERAL correlated subquery with ORDER BY ... LIMIT — the
    'top-3 orders per customer' shape written the way an analyst writes
    it.  Catalyst decorrelates it to a ranked window with
    WindowGroupLimit pushdown (a PARTIAL group-limit runs map-side
    before the exchange, so at 100 TB each task forwards at most 3 rows
    per customer instead of that customer's whole order history).
    Deterministic tie order (price DESC, orderkey), raw doubles pass
    through untouched; customers with no orders drop (inner lateral) in
    both engines."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
    """)


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join made driver-visible (the technique the
    north rule mandates for hot keys: BASELINE.json 'salted
    repartitioning for hot-cell skew').  The big side carries a stable
    hash salt, the small side explodes xSALT, the join key becomes
    (key, salt) so one hot key spreads across SALT reducers; the result
    is EXACTLY the plain inner join, which is what the oracle replays.
    Used when the small side is too big to broadcast and one key
    dominates (mega-host / hot cell)."""
    from engine.ops import salted_join
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("c_custkey"))
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return salted_join(ev, dim, "c_custkey", salt=8).select(
        "event_id", "c_custkey", "c_mktsegment")


_BFS_ROUNDS = 4


def q_bfs_distances(spark, sf_dir):
    """Multi-source BFS (engine/graph.py bfs_levels): shortest hop
    distance from the seed hosts (node % 17 == 0) over the derived host
    link graph, capped at _BFS_ROUNDS hops — crawl-depth labeling, the
    traversal companion to pagerank.  Frontier rounds are co-located
    joins against the once-partitioned edge table; the oracle replays the
    traversal as a recursive CTE with UNION-distinct walk states and a
    final min(dist), which equals first-reach round by induction."""
    from engine.graph import bfs_levels
    docs = _t(spark, sf_dir, "documents")
    e = _pr_edges(docs)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    return bfs_levels(e, nodes.filter(F.col("node") % 17 == 0),
                      rounds=_BFS_ROUNDS)


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (engine/graph.py triangle_counts) over the
    derived host link graph — the local-clustering primitive (spam-farm /
    community signals on a web graph).  Engine uses the degree-ordered
    orientation (Suri & Vassilvitskii WWW'11): each triangle has exactly
    one two-out-edge corner, bounding wedge fan-out at O(m^1.5) where a
    direction-free wedge join is unbounded on power-law degree skew.  Pure
    integer set semantics, so the oracle replays the DEFINITION — the
    canonical u<v<w three-way self-join — without orientation; the outputs
    are equal because orientation only changes the order triangles are
    found in, never the set."""
    from engine.graph import triangle_counts
    docs = _t(spark, sf_dir, "documents")
    return triangle_counts(_pr_edges(docs))


_KCORE_K = 28
_KCORE_ROUNDS = 8


def _kcore_edges(ev):
    """Deterministic dense-hub graph for the peeling query: integer
    DIVISION inside the generator breaks the mod-N ring homomorphism
    (a pure polynomial mod N collapses to a functional graph — every
    residue class maps to ONE dst), and routing every 4th event into a
    96-node block plants a dense subgraph that survives peeling while
    the 512-node periphery dies.  Pure integer arithmetic — DuckDB
    derives the identical edge set."""
    eid = F.col("event_id").cast("long")
    mixed = (eid * 48271 - F.pmod(eid * 48271, F.lit(97))) / F.lit(97)
    hub = F.pmod(eid, F.lit(4)) == 0
    src = F.when(hub, F.pmod(eid, F.lit(96))).otherwise(
        F.pmod(eid, F.lit(512)))
    dst = F.when(hub, F.pmod(mixed.cast("long"), F.lit(96))).otherwise(
        F.pmod(mixed.cast("long"), F.lit(512)))
    return (ev.select(src.alias("src"), dst.alias("dst"))
            .filter(F.col("src") != F.col("dst")).distinct())


def q_k_core(spark, sf_dir):
    """k-core decomposition (engine/graph.py k_core): iterative peeling
    of nodes under degree {_KCORE_K} — the dense-subgraph / spam-cluster
    primitive; at this k the planted 96-node hub block survives while
    the periphery peels away over ~5 passes.  The oracle replays the
    EXACT contract — {_KCORE_ROUNDS} chained edge-peeling rounds then
    the final degree filter — as generated CTEs."""
    from engine.graph import k_core
    ev = _t(spark, sf_dir, "events")
    return k_core(_kcore_edges(ev), k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _kcore_oracle_sql() -> str:
    rounds = []
    for i in range(_KCORE_ROUNDS):
        rounds.append(f"""
d{i} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}) GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
e{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i} e
  JOIN k{i} a ON a.node = e.u
  JOIN k{i} b ON b.node = e.v
)""")
    last = _KCORE_ROUNDS
    return f"""
WITH raw AS (
  SELECT DISTINCT src, dst FROM (
    SELECT CASE WHEN event_id % 4 = 0 THEN CAST(event_id AS BIGINT) % 96
                ELSE CAST(event_id AS BIGINT) % 512 END AS src,
           CASE WHEN event_id % 4 = 0
                THEN ((CAST(event_id AS BIGINT) * 48271) // 97) % 96
                ELSE ((CAST(event_id AS BIGINT) * 48271) // 97) % 512 END
             AS dst
    FROM events
  ) WHERE src != dst
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw),{",".join(rounds)}
SELECT node, CAST(deg AS BIGINT) AS deg FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e{last} UNION ALL SELECT v FROM e{last})
  GROUP BY node
) WHERE deg >= {_KCORE_K}
"""


_BAND_DELTA = 3


def q_band_join(spark, sf_dir):
    """Band join (ops.band_join): same-type event pairs whose floor-cent
    values differ by at most {_BAND_DELTA} — the value-proximity join
    next to J3's range overlap and J6/J8's as-of family; banding makes
    each candidate pair land exactly once in a (keys, bin) equi join
    (no dedup exchange) before the exact |diff| filter; a.id < b.id
    keeps each unordered pair once.  Oracle replays the DEFINITION as
    the per-key inequality join."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", F.col("event_id"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    a = d.select("event_type", F.col("event_id").alias("a_id"),
                 F.col("v_cents").alias("av"))
    b = d.select("event_type", F.col("event_id").alias("b_id"),
                 F.col("v_cents").alias("bv"))
    out = ops.band_join(a, b, ["event_type"], "av", "bv",
                        delta=_BAND_DELTA)
    return out.filter(F.col("a_id") < F.col("b_id"))


def q_quantiles_disc(spark, sf_dir):
    """Discrete quantiles (the value-typed complement of exact_quantiles'
    interpolated ones): percentile_disc picks an ACTUAL population value
    (smallest value whose cumulative fraction reaches p) so the output
    stays BIGINT-exact — no interpolation anywhere; Spark
    percentile(..., ...) with DuckDB quantile_disc as the oracle."""
    ev = _t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("long")
    qs = {}
    for p, nm in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90")):
        qs[nm] = F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY v_cents)") \
            .cast("long").alias(nm)
    d = ev.select("event_type", v.alias("v_cents"))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"), *qs.values())


def q_audience_overlap_hll(spark, sf_dir):
    """Sketch-gated audience overlap — the 10^12-user path where the
    exact membership self-join (audience_overlap) is replaced by HLL++
    cardinalities and inclusion-exclusion: est_inter = est(A) + est(B)
    − est(A∪B).  Differences of three ±rsd estimates compound, so the
    driver-visible contract is a BOUND GATE like sketch_gates: the
    boolean |est − true| <= 0.15·(|A| + |B|) rides the row next to the
    exact evidence, oracle-checked because the oracle recomputes the
    same exact sides and the same literal gate over Spark's estimate
    (collected as driver scalars — the sketch estimate itself is
    Spark-implementation-defined, the GATE is the portable claim)."""
    ev = _t(spark, sf_dir, "events")
    pairs = [("click", "view"), ("purchase", "view"), ("click", "error")]
    rows = []
    for a, b in pairs:
        ua = ev.filter(F.col("event_type") == a).select("user_id")
        ub = ev.filter(F.col("event_type") == b).select("user_id")
        ea = ua.agg(F.approx_count_distinct("user_id")).collect()[0][0]
        eb = ub.agg(F.approx_count_distinct("user_id")).collect()[0][0]
        eu = ua.unionAll(ub).agg(
            F.approx_count_distinct("user_id")).collect()[0][0]
        rows.append((a, b, int(ea + eb - eu)))
    est = spark.createDataFrame(
        rows, "seg_a string, seg_b string, est_inter long")
    m = ev.select(F.col("event_type").alias("_s"),
                  F.col("user_id").alias("_u")).distinct()
    ex = (m.alias("x").join(m.alias("y"), F.col("x._u") == F.col("y._u"))
          .groupBy(F.col("x._s").alias("seg_a"),
                   F.col("y._s").alias("seg_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("true_inter")))
    sz = m.groupBy(F.col("_s").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    out = (est.join(ex, ["seg_a", "seg_b"])
           .join(sz.select(F.col("seg").alias("seg_a"),
                           F.col("n").alias("n_a")), "seg_a")
           .join(sz.select(F.col("seg").alias("seg_b"),
                           F.col("n").alias("n_b")), "seg_b"))
    gate = (F.abs(F.col("est_inter") - F.col("true_inter")) * 100
            <= 15 * (F.col("n_a") + F.col("n_b")))
    return out.select("seg_a", "seg_b", "true_inter", "n_a", "n_b",
                      gate.alias("within_bound"))


def q_engagement_report(spark, sf_dir):
    """END-TO-END analytics composition — the product-analytics report
    a team actually ships, proving the round's operators chain: per-user
    EARLY funnel depth (ops.funnel_prefix over each user's first six
    relevant events, greedy == chained-min) joined to the user's
    acquisition-hour cohort (first active hour, floor-division
    bucketing) and rolled up to (cohort_bucket, n_steps, n_users) — how
    early conversion depth varies by signup vintage.  Every stage is
    individually oracle-exact, so the chain is too; the oracle replays
    prefix-funnel + cohort + rollup as one CTE pipeline (QUALIFY rn<=6
    mirrors the engine's per-user relevant-event prefix)."""
    ev = _t(spark, sf_dir, "events")
    wrel = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rel = (ev.filter(F.col("event_type").isin(list(_FUNNEL_STEPS)))
           .withColumn("_rn", F.row_number().over(wrel))
           .filter(F.col("_rn") <= 6))
    fun = ops.funnel_prefix(rel, "user_id", "ts", "event_type",
                            list(_FUNNEL_STEPS), tiebreak="event_id") \
        .select("user_id", "n_steps")
    b = 3600 * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    coh = (ev.select("user_id",
                     ((us - F.pmod(us, F.lit(b))) / F.lit(b)).cast("long")
                     .alias("bk"))
           .groupBy("user_id").agg(F.min("bk").alias("cohort_bucket")))
    return (coh.join(fun, "user_id", "left")
            .select("cohort_bucket",
                    F.coalesce("n_steps", F.lit(0)).cast("long")
                    .alias("n_steps"))
            .groupBy("cohort_bucket", "n_steps")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


def q_multiformat_source(spark, sf_dir):
    """Multi-format source parity (S-family): the same integer rows
    staged once as JSONL and once as headered CSV, read back through
    spark.read.json / spark.read.csv with EXPLICIT schemas (schema
    inference is banned at 100 TB — it double-scans), unioned and
    aggregated per (source_format, event_type).  Counts/sums must agree
    with the parquet-derived oracle exactly; only integer columns ride
    the text round-trip (float repr across text formats is not part of
    any cross-engine contract)."""
    import tempfile

    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_id", "user_id", "event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    base = tempfile.mkdtemp(prefix="mfs_")
    d.coalesce(2).write.mode("overwrite").json(base + "/j")
    d.coalesce(2).write.mode("overwrite").option("header", "true") \
        .csv(base + "/c")
    schema = ("event_id long, user_id long, event_type string, "
              "v_cents long")
    j = (spark.read.schema(schema).json(base + "/j")
         .withColumn("source_format", F.lit("json")))
    c = (spark.read.schema(schema).option("header", "true")
         .csv(base + "/c")
         .withColumn("source_format", F.lit("csv")))
    return (j.unionByName(c)
            .groupBy("source_format", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("v_cents").cast("long").alias("sum_cents"),
                 F.sum("event_id").cast("long").alias("sum_ids")))


def q_dq_checks(spark, sf_dir):
    """Data-quality suite (the Great-Expectations shape): one row per
    check with exact violation counts — primary-key uniqueness
    (event_id), referential integrity (user_id -> customer, anti-join
    orphans), null rate (event_type), range rule (value <= 0), and
    cross-field rule (purchase events must carry positive value).  Each
    check is a tiny combinable aggregate or anti join; all-integer."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    n_total = ev.count()
    pk_dup = (ev.groupBy("event_id").agg(F.count(F.lit(1)).alias("c"))
              .filter(F.col("c") > 1)
              .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long"))
              .collect()[0][0])
    orphans = (ev.join(cust.select(F.col("c_custkey").alias("user_id")),
                       "user_id", "left_anti").count())
    nulls = ev.filter(F.col("event_type").isNull()).count()
    rng = ev.filter(F.col("value") <= 0).count()
    cross = ev.filter((F.col("event_type") == "purchase")
                      & (F.col("value") <= 0)).count()
    rows = [("pk_unique_event_id", int(pk_dup)),
            ("fk_user_in_customer", int(orphans)),
            ("not_null_event_type", int(nulls)),
            ("range_value_positive", int(rng)),
            ("purchase_has_value", int(cross))]
    pdf = [(name, viol, int(n_total)) for name, viol in rows]
    return spark.createDataFrame(
        pdf, "check string, n_violations long, n_total long")


def q_golden_record(spark, sf_dir):
    """MDM survivorship (ops.golden_record): one row per user where
    each profile column independently keeps its most recent NON-NULL
    value — a newer record with a null field must not erase an older
    known value; sparse profile columns derived deterministically from
    the event stream so both engines see identical nulls."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_id") % 3 == 0,
               F.concat(F.lit("e"), F.col("event_id").cast("string")))
        .alias("email"),
        F.when(F.col("event_id") % 5 == 0, F.col("event_type"))
        .alias("segment"))
    return ops.golden_record(d, "user_id", "ts", ["email", "segment"],
                             order=["event_id"])


def q_mad_scale(spark, sf_dir):
    """Robust scale (ops.mad_scale): median absolute deviation per
    event type — two shared-interpolation percentile passes over exact
    integers with one IEEE subtract between them, so both doubles are
    representation-deterministic cross-engine."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.mad_scale(d, ["event_type"], "v_cents")


def q_benford_digits(spark, sf_dir):
    """Benford first-digit audit profile (ops.benford_digits): exact
    leading-digit counts per event type via string heads — no float log
    anywhere; observed frequency as one IEEE division."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.benford_digits(d, ["event_type"], "v_cents")


def q_max_drawdown(spark, sf_dir):
    """Peak-to-trough drawdown (ops.max_drawdown): per user, the
    largest running-max-minus-current drop of the cents series plus the
    peak at that trough — pure integer windows, the CUSUM closed-form
    shape; tie rule (max dd, then max peak) replayed by the oracle as a
    two-level agg since DuckDB arg_max lacks struct tie-breakers."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.max_drawdown(d, ["user_id"], "ts", "v_cents",
                            order=["event_id"])


_DIV_K = 25
_DIV_PER = 3


def q_diversified_topk(spark, sf_dir):
    """Diversified global top-k (ops.diversified_topk): best
    {_DIV_K} events by value with at most {_DIV_PER} per user-bucket —
    the search-results diversity rule; the per-group heap filter kills
    all but per_group rows per group BEFORE the global rank, so the
    global window never sees the corpus."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select((F.col("user_id") % 20).cast("long").alias("bucket"),
                  "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.diversified_topk(d, "bucket", "v_cents", "event_id",
                                k=_DIV_K, per_group=_DIV_PER)


def q_gini_concentration(spark, sf_dir):
    """Exact Gini coefficient (ops.gini_coefficient): value
    concentration per event type via the rank formula over the
    ascending sort — integer evidence (n, Σx, Σi·x) plus one IEEE
    division; tie order provably cannot change the sum."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.gini_coefficient(d, ["event_type"], "v_cents")


def q_lift_table(spark, sf_dir):
    """Model-eval lift/gains table (ops.lift_table): events ranked by
    value descending, cut into deciles, per-bucket positives
    (purchases) with cumulative lift — exact integer evidence + fixed
    IEEE trees; ntile semantics identical across engines (first n mod b
    buckets take the extra row)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_id", "value",
                  (F.col("event_type") == "purchase").alias("is_pos"))
    return ops.lift_table(d, "value", "is_pos", "event_id", n_buckets=10)


_BK_K = 5


def q_sample_bottomk(spark, sf_dir):
    """Deterministic per-group bottom-k sample (ops.sample_bottomk):
    five events per type by smallest portable hash — the mergeable
    bottom-k sketch / uniform-without-replacement sample that stays
    identical under retries and repartitioning (Spark's own sample() is
    partition-seeded RNG and is neither)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "event_id")
    return ops.sample_bottomk(d, ["event_type"], "event_id", k=_BK_K)


_LPA_ROUNDS = 4


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (engine/graph.py
    label_propagation): every node adopts the min label among its
    neighbors' most frequent labels each round — the async-LPA
    nondeterminism traded for a total tie order so a fixed-round
    declarative replay is a true oracle; run on the dense-hub peeling
    graph for {_LPA_ROUNDS} rounds."""
    from engine.graph import label_propagation
    ev = _t(spark, sf_dir, "events")
    return label_propagation(_kcore_edges(ev), rounds=_LPA_ROUNDS)


def _lpa_oracle_sql() -> str:
    rounds = []
    for i in range(_LPA_ROUNDS):
        rounds.append(f"""
c{i} AS (
  SELECT a.node, l.label, count(*) AS cnt
  FROM adj a JOIN l{i} l ON l.node = a.nbr
  GROUP BY a.node, l.label
),
l{i + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
               ORDER BY cnt DESC, label ASC) AS rk
    FROM c{i}) WHERE rk = 1
)""")
    return f"""
WITH raw AS (
  SELECT DISTINCT src, dst FROM (
    SELECT CASE WHEN event_id % 4 = 0 THEN CAST(event_id AS BIGINT) % 96
                ELSE CAST(event_id AS BIGINT) % 512 END AS src,
           CASE WHEN event_id % 4 = 0
                THEN ((CAST(event_id AS BIGINT) * 48271) // 97) % 96
                ELSE ((CAST(event_id AS BIGINT) * 48271) // 97) % 512 END
             AS dst
    FROM events
  ) WHERE src != dst
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM raw
),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM e0
  UNION ALL SELECT v AS node, u AS nbr FROM e0
),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),{",".join(rounds)}
SELECT node, CAST(label AS BIGINT) AS label FROM l{_LPA_ROUNDS}
"""


def q_a9_rollup(spark, sf_dir):
    """ROLLUP completes the grouping family next to a9_cube /
    a9_grouping_sets: hierarchical (event_type, bucket) subtotals with
    grouping() flags — one Expand, all-integer aggregates."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  (F.col("user_id") % 10).cast("long").alias("bucket"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return (d.rollup("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("v_cents").cast("long").alias("sum_cents"),
                 F.grouping("event_type").cast("long").alias("g_type"),
                 F.grouping("bucket").cast("long").alias("g_bucket"))
            .select("event_type", "bucket", "n", "sum_cents",
                    "g_type", "g_bucket"))


def q_w10_ratio_to_report(spark, sf_dir):
    """ratio_to_report — the classic OLAP window Spark has no named
    function for: each event's share of its type's total value, ONE
    IEEE division over exact integer sums (bit-portable)."""
    ev = _t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("long")
    tot = F.sum(v).over(Window.partitionBy("event_type"))
    return ev.select(
        "event_id", v.alias("v_cents"),
        (v.cast("double") / tot.cast("double")).alias("share"))


_JPJ_TAU_PCT = 20


def q_jaccard_prefix_join(spark, sf_dir):
    """Exact set-similarity join via AllPairs prefix filtering
    (text.jaccard_prefix_join): every doc pair with 3-gram-shingle
    Jaccard >= 0.20, computed WITHOUT all-pairs — rarest-first global
    token order, lossless prefix candidates, integer verify
    (100*inter >= tau*union; no float Jaccard anywhere).  The oracle
    computes the same pair set by the definition: token-join
    intersection counts over every co-token pair + the identical integer
    predicate.  Engine candidates are provably a superset (prefix-filter
    theorem) and verification is exact, so the outputs agree row for
    row."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import jaccard_prefix_join
    return jaccard_prefix_join(docs, tau_pct=_JPJ_TAU_PCT)


def q_interval_coverage(spark, sf_dir):
    """Sweep-line interval stabbing (ops.interval_max_concurrency): peak
    number of simultaneously open user sessions per user-bucket — the
    "max concurrent visitors" query every session store needs.  Each
    session interval decomposes into a +1/-1 event pair, a running sum
    over (ts, delta) is the live count (closings sort before openings at
    the same instant, so touching sessions never count as concurrent),
    and the per-bucket max is the answer.  Pure BIGINT arithmetic — the
    oracle replays the identical decomposition."""
    ev = _t(spark, sf_dir, "events")
    ses = (_sessionized(ev).groupBy("user_id", "subset_id")
           .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")))
    iv = ses.withColumn("bucket", (F.col("user_id") % 10).cast("long"))
    return ops.interval_max_concurrency(iv, ["bucket"])


def q_skyline_2d(spark, sf_dir):
    """Pareto frontier (ops.skyline_2d): per event type, the set of
    events not dominated on (recency, value) — no other event is both
    newer and higher-valued.  The 2-D skyline is a staircase, so the
    engine reduces to per-x max then one ordered prefix-max window pass
    (no pairwise dominance join).  Axes are exact ints (event-time
    micros, floor-cents value) so the frontier is bit-portable."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"))
    return ops.skyline_2d(pts, ["event_type"], "ts_us", "value_cents")


def q_w8_count_distinct_window(spark, sf_dir):
    """COUNT(DISTINCT) as a windowed aggregate — the classic Spark gap
    (SPARK-Distinct window functions are unsupported natively) closed
    with size(collect_set() OVER w): per event, the total distinct users
    of its event type AND the running distinct-user count up to it in
    (ts, event_id) order.  DuckDB supports DISTINCT windowed aggregates
    directly, so the oracle states the semantics declaratively while the
    Spark side demonstrates the set-state implementation.  Scale note:
    per-partition state is one hash set per window partition — bounded
    by distinct users per type, not rows; for unbounded domains switch
    to the HLL sketch gate (sketch_gates)."""
    ev = _t(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    wr = (Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id",
        F.size(F.collect_set("user_id").over(wp)).cast("long")
        .alias("n_users_total"),
        F.size(F.collect_set("user_id").over(wr)).cast("long")
        .alias("n_users_seen"))


def q_asof_nearest(spark, sf_dir):
    """Nearest-event as-of join (ops.asof_nearest): each purchase
    matched to the temporally CLOSEST view by the same user, either
    direction, ties to the earlier side — two ordered window passes
    over one union, never a join against the right table.  The oracle
    states the definition: per-key arg-min over (|diff|, matched_ts
    asc, payload desc) — all integer micros."""
    ev = _t(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id", "event_id", "ts"))
    right = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("rts"),
                     F.col("event_id").alias("view_event_id")))
    out = ops.asof_nearest(left, right, ["user_id"], "ts", "rts",
                           ["view_event_id"])
    return out.select("user_id", "event_id", "matched_ts_us", "diff_us",
                      "view_event_id")


def q_running_median(spark, sf_dir):
    """Windowed exact medians (percentile over frames): per event in
    (ts, event_id) order, the median of the last five values and the
    running median — Spark percentile() and DuckDB quantile_cont()
    share the (n−1)·p interpolation (bit-identical, the
    exact_quantiles precedent) and floor-cents inputs make the sorted
    frame multiset engine-independent."""
    ev = _t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("long")
    w5 = (Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(-4, 0))
    wr = (Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    return ev.select(
        "event_id",
        F.percentile(v, F.lit(0.5)).over(w5).alias("med5"),
        F.percentile(v, F.lit(0.5)).over(wr).alias("med_run"))


def q_polygon_stats(spark, sf_dir):
    """Shoelace signed area + centroid (ops.polygon_area_centroid) over
    deterministic integer vertex rings (each user's first six events as
    (event_id mod 1000, cents mod 1000) vertices): area2 exact int64
    after per-ring rebasing, centroid = min + moment/(3·area2) as one
    IEEE division per axis — the oracle replays the identical windows,
    moments and trees."""
    ev = _t(spark, sf_dir, "events")
    wrn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (ev.withColumn("_rn", F.row_number().over(wrn))
         .filter(F.col("_rn") <= 6)
         .select(F.col("user_id").alias("poly"),
                 F.col("_rn").alias("seq"),
                 (F.col("event_id") % 1000).cast("long").alias("x"),
                 (F.floor(F.col("value") * 100).cast("long") % 1000)
                 .alias("y")))
    return ops.polygon_area_centroid(d, ["poly"], "seq", "x", "y")


_SIMP_EPS = 40


def q_simplify_radial(spark, sf_dir):
    """Radial-distance trajectory simplification (ops.simplify_radial):
    keep a point iff its squared integer distance from the LAST KEPT
    point reaches eps² — the sequential decision no prefix form can
    state, as an exact integer fold; the oracle replays the fold with
    DuckDB list_reduce over state-lifted elements."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", "ts", "event_id",
                  (F.col("event_id") % 200).cast("long").alias("x"),
                  (F.floor(F.col("value") * 100).cast("long") % 200)
                  .alias("y"))
    return ops.simplify_radial(d, ["user_id"], ["ts", "event_id"],
                               "x", "y", eps=_SIMP_EPS)


_NEG_K = 3


def q_negative_sampling(spark, sf_dir):
    """Deterministic negative sampling (ops.negative_sampling): per
    anchor doc, {_NEG_K} hash-stepped other doc ids — retry-stable pure
    function of (salt, anchor, rank), never the anchor itself (step ≢ 0
    mod n by construction); ordinals come from the two-phase
    global_ordinal so no single-partition window exists even at id
    scale.  All md5_60 + modular arithmetic — exact."""
    docs = _t(spark, sf_dir, "documents")
    return ops.negative_sampling(docs, "doc_id", k=_NEG_K)


def q_audience_overlap(spark, sf_dir):
    """Segment-overlap matrix (ops.audience_overlap): exact distinct
    user intersections for every unordered event-type pair plus both
    segment sizes — membership collapses map-side before the per-user
    self-join, so each user contributes only their own pairs."""
    ev = _t(spark, sf_dir, "events")
    return ops.audience_overlap(ev, "event_type", "user_id")


_CUSUM_K = 1100
_CUSUM_H = 5000


def q_cusum_alarm(spark, sf_dir):
    """CUSUM drift detection (ops.cusum_alarm): the recurrence
    s_t = max(0, s_{t-1} + x_t - k) solved in closed form as two running
    windows (s = P - least(0, runmin P)) — all-integer, bit-portable;
    per user: peak CUSUM and first alarm position."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.cusum_alarm(d, ["user_id"], "ts", "v_cents",
                           drift_k=_CUSUM_K, threshold=_CUSUM_H,
                           order=["event_id"])


_PATH_DEPTH = 3
_PATH_K = 40


def q_top_paths(spark, sf_dir):
    """Top-k session paths (ops.top_paths): each gap session reduced to
    its first {_PATH_DEPTH} event types joined with '>', counted and
    ranked with a deterministic path tie-break — the Sankey/user-flow
    aggregation."""
    ev = _t(spark, sf_dir, "events")
    s = _sessionized(ev).withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return ops.top_paths(s, ["user_id", "subset_id"],
                         ["ts_us", "event_id"],
                         "event_type", depth=_PATH_DEPTH, k=_PATH_K)


def q_trimmed_mean(spark, sf_dir):
    """Exact interquartile mean (ops.trimmed_mean): rank-band keep rule
    100(r−1) ∈ [lo, hi]·(n−1) over ordered positions — all-integer, and
    value-ties at the band edge cannot change the kept MULTISET (equal
    rank swaps carry equal values), so n_kept/sum_kept are
    engine-independent; mean is one IEEE division."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.trimmed_mean(d, ["event_type"], "v_cents")


_EWMA_ALPHA = 0.25


def q_ewma_values(spark, sf_dir):
    """Per-user exponential smoothing (ops.ewma_per_key): the recurrence
    s_t = a*x_t + (1-a)*s_{t-1} no window frame can state, as an aligned
    fold — Spark F.aggregate seeded with the first element == DuckDB
    list_reduce, same left-assoc IEEE tree, exactly-representable alpha,
    exact cents inputs: the output double is bit-identical."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.ewma_per_key(d, ["user_id"], "ts", "v_cents",
                            alpha=_EWMA_ALPHA, order=["event_id"])


def q_weighted_median(spark, sf_dir):
    """Exact weighted median (ops.weighted_median): smallest value whose
    cumulative weight reaches half the total, per event type — all
    BIGINT; duplicates collapse in a combinable weight sum before the
    one ordered window."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long").alias("v"),
                  (F.col("user_id") % 5 + 1).cast("long").alias("w"))
    return ops.weighted_median(d, ["event_type"], "v", "w")


def q_linreg_trend(spark, sf_dir):
    """Per-type OLS trend (ops.linreg_per_group): five exact int64
    sufficient statistics + slope/intercept as fixed IEEE trees over
    them (bit-portable); x = minutes since each group's first event
    (rebased to honor the enforced overflow envelope), y = floor-cents
    value.  Degenerate zero-variance groups yield NULL fits."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = ev.select("event_type", us.alias("_us"),
                  F.floor(F.col("value") * 100).cast("long").alias("y"))
    wmin = Window.partitionBy("event_type")
    rel = F.col("_us") - F.min("_us").over(wmin)
    b = 60_000_000
    d = d.withColumn("x", ((rel - F.pmod(rel, F.lit(b))) / F.lit(b))
                     .cast("long"))
    return ops.linreg_per_group(d, ["event_type"], "x", "y")


_FP_COLS = ("user_id", "event_id", "event_type")


def q_table_fingerprint(spark, sf_dir):
    """Order-independent table fingerprint (ops.table_fingerprint):
    md5_60 row hashes folded by bit_xor + a mod-2^20 additive channel +
    row count — the replica-validation scalar triple; one map-only hash
    and one combinable agg, three longs to the driver.  Oracle replays
    the identical canonicalization and folds."""
    ev = _t(spark, sf_dir, "events")
    return ops.table_fingerprint(ev, list(_FP_COLS))


def q_profile_columns(spark, sf_dir):
    """One-pass data profiling (ops.profile_columns): per column null /
    distinct counts and native-ordered min/max rendered as strings, all
    columns in ONE scan (multi-DISTINCT Expand) then unpivoted via
    stack.  Oracle is the per-column UNION ALL of the same metrics."""
    ev = _t(spark, sf_dir, "events")
    return ops.profile_columns(ev, list(_FP_COLS))


def q_global_ordinal(spark, sf_dir):
    """Two-phase global row numbering (ops.global_ordinal): bucket
    offsets from a tiny per-day count table + in-bucket row_number — a
    global total-order rank with NO single-partition window; equals the
    declarative row_number() OVER (ORDER BY ts, event_id), which is
    exactly what the oracle states."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = 86_400_000_000
    d = ev.select("event_id", "ts",
                  ((us - F.pmod(us, F.lit(b))) / F.lit(b)).cast("long")
                  .alias("day_bk"))
    return (ops.global_ordinal(d, "day_bk", ["ts", "event_id"])
            .select("event_id", "ordinal"))


_PHRASE = ("table", "hash")


def q_inverted_index(spark, sf_dir):
    """Positional inverted index (text.build_inverted_index): per
    (token, doc) posting with tf, canonical comma-joined ascending
    positions, and document frequency — the text never rides a shuffle,
    postings build in one combinable agg, df is vocab-sized broadcast.
    All-integer evidence; positions string is canonical so the value
    hash is engine-portable."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import build_inverted_index
    return build_inverted_index(docs)


def q_phrase_search(spark, sf_dir):
    """Exact positional phrase search (text.phrase_search): documents
    containing the ADJACENT token pair 'table hash' via the postings
    zig-zag — corpus filtered to the two query tokens before any
    explode, adjacency = one equi join on (doc, pos offset).  Oracle
    replays the identical positional intersection."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import phrase_search
    return phrase_search(docs, list(_PHRASE))


def q_transition_matrix(spark, sf_dir):
    """Empirical Markov transition matrix (ops.transition_counts): per
    user-ordered event stream, state -> next-state adjacency counts with
    row totals — exact integer evidence; the MLE probability n_trans /
    n_from stays with the consumer so no float enters the contract.
    Oracle is the identical lead-window + two-count statement."""
    ev = _t(spark, sf_dir, "events")
    return ops.transition_counts(ev, ["user_id"], ["ts", "event_id"],
                                 "event_type")


_HIST_WIDTH = 250

_HIST_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vc FROM events
)
SELECT event_type, vc // {_HIST_WIDTH} AS bin,
       CAST(count(*) AS BIGINT) AS n,
       min(vc) AS v_min, max(vc) AS v_max
FROM v GROUP BY event_type, bin
"""


def q_histogram_values(spark, sf_dir):
    """Equi-width histogram (ops.histogram_equiwidth): floor-cents event
    values binned at width {_HIST_WIDTH} per event type with per-bin
    count and exact observed range — floor-division identity portable
    both engines, one combinable agg."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.histogram_equiwidth(d, ["event_type"], "v_cents",
                                   width=_HIST_WIDTH)


_ZS_K = 3


def q_zscore_outliers(spark, sf_dir):
    """Integer-exact k-sigma outlier flags (ops.zscore_outliers):
    |x - mean| > k*sigma squared into (n*x - S)^2 > k^2(n*SS - S^2) so
    the decision is pure int64 (envelope-enforced) and bit-portable;
    the oracle replays the identical squared predicate."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type",
                  (F.col("user_id") % 10).cast("long").alias("bucket"),
                  "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.zscore_outliers(d, ["event_type", "bucket"], "v_cents",
                               ["event_id"], k=_ZS_K)


_COHORT_BUCKET_S = 86400


def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle (ops.cohort_retention): users bucketed
    by first-active day, counted when active again k days later.  Pure
    BIGINT bucketing (floor-division identity valid on both engines) and
    counting; the oracle is the direct declarative statement."""
    ev = _t(spark, sf_dir, "events")
    return ops.cohort_retention(ev, "user_id", "ts",
                                bucket_s=_COHORT_BUCKET_S)


_PMI_MIN_COUNT = 5


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (text.pmi_collocations): adjacent-bigram
    association strength as the exact integer evidence (c_ab, c_a, c_b)
    plus the PMI-monotone probability ratio computed by ONE fixed IEEE
    tree over those ints — the oracle replays identical counts and the
    identical expression, so even the double column is bit-equal."""
    docs = _t(spark, sf_dir, "documents")
    from engine.text import pmi_collocations
    return pmi_collocations(docs, min_count=_PMI_MIN_COUNT)


_FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_steps(spark, sf_dir):
    """Ordered funnel depth (ops.funnel_prefix): per user, how deep into
    view -> click -> purchase their event stream gets, with first/deepest
    matched event times — the product-analytics conversion query.  Greedy
    earliest subsequence matching == chained first-occurrence-after, so
    the oracle states the same answer declaratively as one chained-min
    CTE per step over a per-user row_number sequence; everything is
    BIGINT (row numbers + unix micros), engine-portable."""
    ev = _t(spark, sf_dir, "events")
    return ops.funnel_prefix(ev, "user_id", "ts", "event_type",
                             list(_FUNNEL_STEPS), tiebreak="event_id")


_RADIUS_R = 25
_DBSCAN_EPS, _DBSCAN_MINPTS = 30, 6


def _grid_points(ev: DataFrame) -> DataFrame:
    """Deterministic integer 2-D points derived from event ids — two
    INDEPENDENT LCG multipliers (48271 / 16807) so x and y are not the
    same 1-D lattice shifted (a shared multiplier puts every point on
    one diagonal line)."""
    e = F.col("event_id").cast("long")
    return ev.select(
        "event_type", "event_id",
        F.pmod(e * 48271 + 11, F.lit(1000)).alias("x"),
        F.pmod(e * 16807 + 523, F.lit(1000)).alias("y"))


def q_radius_join_2d(spark, sf_dir):
    """2-D radius join (ops.radius_join_2d): same-type event pairs whose
    derived integer grid points lie within euclidean distance
    {_RADIUS_R} — the planar generalization of band_join's banding
    rewrite (3x3 cell neighborhood explode on one side, single true cell
    on the other, so each candidate pair is generated exactly once with
    no dedup exchange) ahead of the exact integer dist² filter.  Oracle
    replays the DEFINITION as the per-key inequality join; a_id < b_id
    keeps each unordered pair once."""
    d = _grid_points(_t(spark, sf_dir, "events"))
    a = d.select("event_type", F.col("event_id").alias("a_id"),
                 F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = d.select("event_type", F.col("event_id").alias("b_id"),
                 F.col("x").alias("bx"), F.col("y").alias("by"))
    out = ops.radius_join_2d(a, b, ["event_type"], "ax", "ay", "bx", "by",
                             _RADIUS_R)
    return out.filter(F.col("a_id") < F.col("b_id"))


def q_dbscan_clusters(spark, sf_dir):
    """Grid DBSCAN (clustering.dbscan_grid) over the click events'
    derived grid points: closed eps-neighborhood counts, core iff
    n >= {_DBSCAN_MINPTS}, clusters = components of the core-core
    eps-graph labeled by min core id, border -> min neighboring core's
    cluster (the deterministic refinement of classic DBSCAN's
    scan-order border rule), noise NULL.  Engine path is the grid-cell
    radius self-join + pointer-jumping components; the oracle restates
    the definition with an all-pairs join and a recursive-CTE closure."""
    from engine import clustering
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    pts = _grid_points(ev).select("event_id", "x", "y")
    return clustering.dbscan_grid(pts, "event_id", "x", "y",
                                  eps=_DBSCAN_EPS, min_pts=_DBSCAN_MINPTS)


_ATTR_LOOKBACK_S = 3600
_BASKET_MIN_PAIR = 2


def q_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation (ops.autocorr_lag) of floor-cent event
    values per type, ordered by (ts, event_id): six exact int64
    sufficient statistics over the lead-aligned pairs plus Pearson r as
    one fixed IEEE tree (num / (sqrt(vx) * sqrt(vy))) — bit-portable
    because sqrt is correctly rounded.  Oracle replays lead + the same
    stats + the same tree."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "ts", "event_id",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.autocorr_lag(d, ["event_type"], "ts", "v_cents", k=1,
                            tiebreak="event_id")


def q_basket_pairs(spark, sf_dir):
    """Market-basket pair mining (ops.basket_pairs) over lineitem:
    parts co-purchased within an order, support >= {_BASKET_MIN_PAIR},
    with item supports, basket total, confidence both ways and lift —
    each float one fixed IEEE expression over exact BIGINT evidence.
    Membership collapses to distinct (order, part) map-side; the only
    quadratic surface is within-basket pair fan-out, bounded by the
    enforced max-basket envelope."""
    li = _t(spark, sf_dir, "lineitem")
    return ops.basket_pairs(li, "l_orderkey", "l_partkey",
                            min_pair=_BASKET_MIN_PAIR)


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution (ops.last_touch_attribution): each
    purchase credits the latest view/click by the same user at-or-before
    it within {_ATTR_LOOKBACK_S} s — no join, one per-user ordered
    window carrying the last-touch payload struct, lookback as a
    map-side null-out (the latest touch is the minimum-delay touch).
    Oracle restates the definition declaratively: rank-1 qualifying
    touch under ORDER BY ts DESC, id DESC per conversion."""
    ev = _t(spark, sf_dir, "events")
    return ops.last_touch_attribution(
        ev, ["user_id"], "ts", "event_type", "event_id",
        ["view", "click"], "purchase", lookback_s=_ATTR_LOOKBACK_S)


def q_link_pred_cn(spark, sf_dir):
    """Common-neighbor link prediction (graph.link_prediction_cn) over
    the derived host link graph: every non-adjacent pair at distance 2
    with its shared-neighbor count and endpoint degrees — all-BIGINT
    evidence for CN/Jaccard/PA scoring.  One wedge self-join (each
    wedge generated exactly once, u < w), combinable count, one
    anti-join against the canonical edge set; Sigma C(deg,2) enforced.
    Oracle replays the definition over the identical derived edges."""
    from engine.graph import link_prediction_cn
    docs = _t(spark, sf_dir, "documents")
    return link_prediction_cn(_pr_edges(docs))


_OD_CELL = 100
_GI_CELL = 50


def q_rfm_segments(spark, sf_dir):
    """RFM segmentation (ops.rfm_segments): per-user recency (whole days
    from the population's latest purchase, exact micros floor-div),
    frequency, floor-cent monetary total, and quartile scores via ntile
    over TOTAL orders (metric, user) — Spark and DuckDB share the
    first-buckets-take-the-extra-row ntile rule (pinned by lift_table),
    so the scores are engine-portable BIGINTs."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", "ts", "event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_cents"))
    return ops.rfm_segments(d, "user_id", "ts", "event_type", "purchase",
                            "v_cents")


def q_od_flows(spark, sf_dir):
    """Origin-destination flow matrix (ops.od_flows): each user's
    event-derived grid trace reduced to consecutive cell transitions
    (same-cell steps drop) at cell size {_OD_CELL}, aggregated to
    (origin, dest, n_trips, n_movers) — one ordered window carrying two
    cell longs, one combinable count + count-distinct agg."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id").cast("long")
    d = ev.select("user_id", "ts", "event_id",
                  F.pmod(e * 48271 + 11, F.lit(1000)).alias("x"),
                  F.pmod(e * 16807 + 523, F.lit(1000)).alias("y"))
    return ops.od_flows(d, ["user_id"], "ts", "x", "y", _OD_CELL,
                        tiebreak="event_id")


def q_hotspot_gi(spark, sf_dir):
    """Getis–Ord Gi* hotspot z-scores (tiles.hotspot_gi) over the
    occupied-cell lattice of all event grid points at cell size
    {_GI_CELL}: exact int64 evidence (v, W, w_sum, with n/S/SS as
    driver-scalar literals) and z as one fixed IEEE tree — the oracle
    replays the identical fraction-cleared formula, so even the double
    hashes identically."""
    d = _grid_points(_t(spark, sf_dir, "events"))
    from engine import tiles as _tiles
    return _tiles.hotspot_gi(d, "x", "y", _GI_CELL)


_KNN_K = 3
_KNN_CELL = 25
_SSSP_ROUNDS = 6


def q_merge_intervals(spark, sf_dir):
    """Merge overlapping-or-touching intervals (ops.merge_intervals):
    per-user event intervals [epoch_us, epoch_us + (1+|floor-cents|)*0.1s]
    collapse to their coverage union — one per-key ordered exchange
    shared by the prefix-runmax flag and the group-id running sum, then
    one combinable agg; the oracle replays the identical two windows."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    dur = (F.lit(1) + F.abs(F.floor(F.col("value") * 100).cast("long"))) \
        * F.lit(100000)
    d = ev.select("user_id", s.alias("s"), (s + dur).alias("e"))
    return ops.merge_intervals(d, ["user_id"], "s", "e")


def q_sssp_weighted(spark, sf_dir):
    """Weighted SSSP, Bellman-Ford rounds (graph.sssp_rounds): min-cost
    distance from the seed hosts (node % 17 == 0) over the derived host
    graph with deterministic integer weights 1 + (7*src + 13*dst) % 20,
    capped at {_SSSP_ROUNDS} relaxation rounds — the <=R-edge minimum is
    a well-defined engine-independent quantity (k_core's fixed-round
    contract), replayed by the oracle as chained MATERIALIZED CTE
    rounds of union + min."""
    from engine.graph import sssp_rounds
    docs = _t(spark, sf_dir, "documents")
    e = _pr_edges(docs).withColumn(
        "w", (F.lit(1) + F.pmod(F.col("src") * 7 + F.col("dst") * 13,
                                F.lit(20))).cast("long"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    return sssp_rounds(e, nodes.filter(F.col("node") % 17 == 0),
                       rounds=_SSSP_ROUNDS)


def q_knn_join_2d(spark, sf_dir):
    """Exact k-nearest-neighbor join (ops.knn_join_2d): per event_type,
    each probe point (event_id divisible by 7) gets its {_KNN_K} nearest
    build points under the total order (exact int64 dist², b_id) via the
    expanding-ring grid search — ring r resolves a probe when its k-th
    candidate sits within (r·cell)², since integer coords put every
    unscanned point STRICTLY beyond r·cell.  The oracle states the
    definition as the all-pairs rank; the engine never materializes
    all-pairs."""
    g = _grid_points(_t(spark, sf_dir, "events"))
    p = (g.filter(F.pmod(F.col("event_id"), F.lit(7)) == 0)
         .select("event_type", F.col("event_id").alias("p_id"), "x", "y"))
    b = (g.filter(F.pmod(F.col("event_id"), F.lit(7)) != 0)
         .select("event_type", F.col("event_id").alias("b_id"), "x", "y"))
    return ops.knn_join_2d(p, b, ["event_type"], "x", "y", "x", "y",
                           _KNN_K, _KNN_CELL, max_rings=45)


_GEO_RJ_M = 100000.0


def _sphere_points(ev: DataFrame) -> DataFrame:
    """Deterministic lat/lon points from event ids on a 0.1-degree
    lattice, lat in [-60, 60), lon in [-180, 180) — the two independent
    LCG multipliers of _grid_points, so no diagonal collapse."""
    e = F.col("event_id").cast("long")
    return ev.select(
        "event_id",
        (F.pmod(e * 48271 + 11, F.lit(1200)).cast("double")
         / F.lit(10.0) - F.lit(60.0)).alias("lat"),
        (F.pmod(e * 16807 + 523, F.lit(3600)).cast("double")
         / F.lit(10.0) - F.lit(180.0)).alias("lon"))


def q_geo_radius_join(spark, sf_dir):
    """Geodesic radius join (ops.geo_radius_join): probe points (event_id
    divisible by 5) against all points within {_GEO_RJ_M} m great-circle
    distance — candidates via chord-space 3-D binning (bins are
    engine-internal and only gate candidates), the decision via the
    engine's fixed haversine IEEE tree, which the oracle replays over
    the by-definition all-pairs join."""
    pts = _sphere_points(_t(spark, sf_dir, "events"))
    p = (pts.filter(F.pmod(F.col("event_id"), F.lit(5)) == 0)
         .select(F.col("event_id").alias("a_id"), "lat", "lon"))
    b = pts.select(F.col("event_id").alias("b_id"), "lat", "lon")
    out = ops.geo_radius_join(p, b, "lat", "lon", "lat", "lon", _GEO_RJ_M)
    return out.filter(F.col("a_id") != F.col("b_id"))


def _sssp_oracle_sql() -> str:
    rounds = []
    for i in range(_SSSP_ROUNDS):
        rounds.append(f"""
d{i + 1} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i} d JOIN e ON e.src = d.node
  ) GROUP BY node
)""")
    return f"""
WITH e AS MATERIALIZED (
  SELECT src, dst, CAST(1 + (src * 7 + dst * 13) % 20 AS BIGINT) AS w
  FROM (
    SELECT DISTINCT src, dst FROM (
      SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
             (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES}
               AS dst
      FROM documents
    ) WHERE src != dst
  )
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 17 = 0
),{",".join(rounds)}
SELECT node, dist FROM d{_SSSP_ROUNDS}
"""


def q_ab_test_2prop(spark, sf_dir):
    """Pooled two-proportion z-test (stats.two_proportion_ztest): events
    split into 3 experiment groups (user_id mod 3) with arms by user
    parity, success = purchase; evidence (n, x per arm) is exact BIGINT
    and z is one fixed IEEE tree over it — the oracle replays the tree,
    so even the doubles hash identically."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(
        F.pmod(F.col("user_id"), F.lit(3)).cast("long").alias("exp_grp"),
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("A"))
        .otherwise(F.lit("B")).alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"))
    return _stats.two_proportion_ztest(d, ["exp_grp"], "variant", "conv",
                                       "A", "B")


def q_chi2_independence(spark, sf_dir):
    """Chi-square independence cells (stats.chi2_independence) over the
    (event_type, user_id mod 4) contingency table: exact BIGINT
    observed/marginal evidence, expected and the fraction-cleared
    per-cell contribution (o*N - R*C)^2 / (N*R*C) as fixed IEEE trees
    with N < 2^26 enforced so the numerator root is double-exact."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(F.col("event_type").alias("et"),
                  F.pmod(F.col("user_id"), F.lit(4)).cast("long")
                  .alias("ub"))
    return _stats.chi2_independence(d, "et", "ub")


def q_welch_ttest(spark, sf_dir):
    """Welch's t-test per event_type (stats.welch_ttest) on floor-cent
    values with arms by user parity: per-arm (n, sum, sum-of-squares)
    exact BIGINTs under the enforced n*max|x| < 2^31 envelope, t and
    the Welch degrees of freedom as fixed IEEE trees the oracle replays
    subtree-for-subtree."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(F.col("event_type").alias("et"),
                  F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0,
                         F.lit("A")).otherwise(F.lit("B")).alias("variant"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"))
    return _stats.welch_ttest(d, ["et"], "variant", "cents", "A", "B")


def q_mannwhitney_u(spark, sf_dir):
    """Mann-Whitney U (stats.mann_whitney_u) on floor-cent values per
    event_type with arms by user parity: doubled-midrank arithmetic
    keeps every rank quantity an exact BIGINT (u2_a = 2*U_A, tie term
    sum(t^3 - t)), and the tie-corrected normal z is one fixed IEEE
    tree over them — the oracle replays the same cumulative-count
    window and tree, so even the doubles hash identically."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(F.col("event_type").alias("et"),
                  F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0,
                         F.lit("A")).otherwise(F.lit("B")).alias("variant"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"))
    return _stats.mann_whitney_u(d, ["et"], "variant", "cents", "A", "B")


def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation (stats.spearman_rho) between floor-cent
    value and user_id per event_type: centered doubled midranks make
    the three moment sums exact BIGINTs (the cross terms vanish because
    both rank vectors share the exact mean), rho is one fixed IEEE tree
    over them."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(F.col("event_type").alias("et"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"),
                  F.col("user_id").alias("uid"))
    return _stats.spearman_rho(d, ["et"], "cents", "uid")


def q_ks_2samp(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov (stats.ks_2samp) on floor-cent
    values per event_type with arms by user parity: the ECDF-gap
    supremum is carried as the fraction-cleared exact BIGINT
    d_num = max |n_b*cumA - n_a*cumB|, and D = d_num/(n_a*n_b) is a
    single IEEE divide the oracle replays."""
    ev = _t(spark, sf_dir, "events")
    from engine import stats as _stats
    d = ev.select(F.col("event_type").alias("et"),
                  F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0,
                         F.lit("A")).otherwise(F.lit("B")).alias("variant"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"))
    return _stats.ks_2samp(d, ["et"], "variant", "cents", "A", "B")


_HULL_MOD = 13


def q_convex_hull(spark, sf_dir):
    """Per-type strict convex hull (spatial.convex_hull_2d) of sampled
    derived grid points: the minimal bounding polygon under coverage /
    service-area queries, emitted one row per hull VERTEX with its CCW
    position from the lexicographic minimum plus the exact shoelace
    doubled area.  Every geometric decision is an int64 cross product,
    so the output is bit-portable; the engine pre-reduces map-side
    (hull of per-partition hulls == hull) and only local-hull survivors
    cross the one exchange.  The oracle replays the EXTREME-POINT
    definition relationally: a point is a hull vertex iff some directed
    edge from it keeps every other point strictly left (collinear
    allowed only strictly beyond the edge endpoint), CCW position =
    1 + count of hull vertices counter-clockwise-before it around the
    start vertex, area via the idx-(idx+1 mod h) cyclic edge join.
    Input sampled (event_id % {_HULL_MOD} == 0) to keep the oracle's
    O(n^3) membership replay tiny; the engine path needs no sample."""
    from engine import spatial
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_HULL_MOD)) == 0)
    pts = _grid_points(ev)
    return spatial.convex_hull_2d(pts, ["event_type"], "x", "y")


_ROLL_W_DAYS = 7


def q_rolling_active(spark, sf_dir):
    """Trailing-7-day distinct-user step function per event type
    (ops.rolling_active_distinct) — the WAU curve as exact BIGINTs,
    one row per day the count CHANGES including the closing drop to 0.
    The engine never builds a day spine or a sliding COUNT(DISTINCT):
    each user's covered days form merged intervals whose +1/-1
    endpoints feed one per-key running sum.  The oracle states the
    DEFINITION instead — a generate_series day spine, the trailing
    window COUNT(DISTINCT) per day, kept where it differs from the
    previous day — so the two sides meet only at the semantics."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id",
                  F.datediff(F.col("ts").cast("date"),
                             F.lit("1970-01-01").cast("date"))
                  .cast("long").alias("day"))
    return ops.rolling_active_distinct(d, ["event_type"], "user_id",
                                       "day", _ROLL_W_DAYS)


_TS_MOD = 3


def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend (ops.theil_sen_slope) of floor-cent event
    value over event-time micros per type: the median pairwise slope
    under the documented total order (slope_double, dy, dx) — one IEEE
    divide per pair, (dy, dx) breaking any double collision, so the
    lower-median row is engine-independent over the identical pair
    multiset (pairs generated once each by event_id order, normalized
    to dx > 0).  Input sampled (event_id % {_TS_MOD} == 0): the pair
    fan-out is inherently quadratic and the envelope raise enforces it;
    sampling per key is the estimator's own scale story.  Oracle
    replays pair generation, normalization and the rank filter."""
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_TS_MOD)) == 0)
    d = ev.select("event_type", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("x_us"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("y_cents"))
    return ops.theil_sen_slope(d, ["event_type"], "x_us", "y_cents",
                               "event_id")


_DBG_EPS_M = 500000.0
_DBG_MINPTS = 4


def q_dbscan_geo(spark, sf_dir):
    """Geodesic DBSCAN (clustering.dbscan_geo) over the click events'
    deterministic sphere points with a 500 km great-circle eps — the
    stop/POI density clusterer run directly on lat/lon (no projection,
    no antimeridian seam).  The eps decision is the engine's fixed
    haversine IEEE tree, so the oracle's all-pairs + recursive-closure
    replay agrees pair-for-pair; the engine's chord-space 3-D bins only
    gate candidates.  Same deterministic semantics as dbscan_clusters
    (min-id components, min-cluster border rule, noise NULL)."""
    from engine import clustering
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    pts = _sphere_points(ev)
    return clustering.dbscan_geo(pts, "event_id", "lat", "lon",
                                 _DBG_EPS_M, _DBG_MINPTS)


def q_trip_stats(spark, sf_dir):
    """Per-user trip statistics (ops.trip_stats, metric="euclid") over
    the derived planar grid trace in (ts, event_id) order: exact BIGINT
    path length in floor-micrometers (each leg is sqrt(double(int64
    dist2)) — int->double exact under the 2^25 envelope and
    sqrt/multiply/floor all CORRECTLY ROUNDED, so unlike library trig
    the whole tree is bit-identical cross-engine), net displacement as
    a single first->last leg tree, straightness as a two-op fixed
    tree.  The geodesic (haversine) mode is deliberately NOT the
    driver contract: JVM and libm trig disagree by 1 ulp on ~2% of
    large-angle arguments (measured), so it is golden-tested instead —
    the float-twin posture.  Oracle replays lead + sqrt + floor +
    BIGINT sum, first/last via rank-1 windows over the same order."""
    ev = _t(spark, sf_dir, "events")
    g = _grid_points(ev).select("event_id", "x", "y")
    d = (ev.select("user_id", "ts", "event_id")
         .join(g, "event_id"))
    return ops.trip_stats(d, ["user_id"], "ts", "x", "y", "event_id",
                          metric="euclid")


def q_hull_diameter(spark, sf_dir):
    """Per-type point-set diameter (spatial.hull_diameter) over the same
    sampled grid points as convex_hull: the farthest pair under the
    total order (dist2 DESC, x1, y1, x2, y2), normalized to
    (x1,y1) <= (x2,y2).  The engine reduces O(n^2) to O(h^2) through
    the hull (every diameter endpoint is an extreme point — strict
    convexity of |q-p|^2 along a segment); the oracle ranks ALL pairs,
    so the reduction itself is what the exact match certifies."""
    from engine import spatial
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_HULL_MOD)) == 0)
    pts = _grid_points(ev)
    return spatial.hull_diameter(pts, ["event_type"], "x", "y")


_BBOX_CELL = 32
_SEG_CELL = 64


def _rects(ev: DataFrame) -> DataFrame:
    """Deterministic integer boxes from event ids: lower-left corner on
    the _grid_points lattice, width/height from two more multipliers."""
    e = F.col("event_id").cast("long")
    x1 = F.pmod(e * 48271 + 11, F.lit(1000))
    y1 = F.pmod(e * 16807 + 523, F.lit(1000))
    return ev.select("event_type", "event_id",
                     x1.alias("x1"), y1.alias("y1"),
                     (x1 + F.pmod(e * 131 + 3, F.lit(30))).alias("x2"),
                     (y1 + F.pmod(e * 137 + 5, F.lit(30))).alias("y2"))


def q_bbox_join(spark, sf_dir):
    """2-D rectangle overlap join (ops.bbox_overlap_join): sampled
    boxes (event_id % 11 == 0) against all same-type boxes, emitting
    the exact integer intersection box per pair.  Candidates via the
    canonical-cell grid — each pair survives ONLY in the cell of its
    intersection's lower-left corner, provably covered by both boxes,
    so no dedup exchange exists; the oracle replays the DEFINITION as
    the four-inequality join."""
    r = _rects(_t(spark, sf_dir, "events"))
    a = (r.filter(F.pmod(F.col("event_id"), F.lit(11)) == 0)
         .select("event_type", F.col("event_id").alias("a_id"),
                 "x1", "y1", "x2", "y2"))
    b = r.select("event_type", F.col("event_id").alias("b_id"),
                 F.col("x1").alias("u1"), F.col("y1").alias("v1"),
                 F.col("x2").alias("u2"), F.col("y2").alias("v2"))
    out = ops.bbox_overlap_join(a, b, ["event_type"],
                                ("x1", "y1", "x2", "y2"),
                                ("u1", "v1", "u2", "v2"), _BBOX_CELL)
    return out.filter(F.col("a_id") != F.col("b_id"))


def _segs(ev: DataFrame) -> DataFrame:
    """Deterministic integer segments: one endpoint on the grid lattice,
    the other displaced by hash-derived (dx, dy) in [-40, 40)."""
    e = F.col("event_id").cast("long")
    x1 = F.pmod(e * 48271 + 11, F.lit(1000))
    y1 = F.pmod(e * 16807 + 523, F.lit(1000))
    return ev.select(
        "event_type", "event_id", x1.alias("x1"), y1.alias("y1"),
        (x1 + F.pmod(e * 131 + 3, F.lit(80)) - 40).alias("x2"),
        (y1 + F.pmod(e * 137 + 5, F.lit(80)) - 40).alias("y2"))


def q_segment_join(spark, sf_dir):
    """Segment intersection join (ops.segment_intersect_join): sampled
    segments (event_id % 13 == 0) against all same-type segments under
    the EXACT integer orientation predicate (CLRS 33.1 — proper
    crossings via the d1..d4 sign tests, endpoint/collinear touches via
    the on-segment box tests; every cross product a provable int64).
    Candidates come from the canonical-cell bbox filter; the oracle
    replays the identical predicate over the all-pairs join, so the
    exact match certifies the filter-refine pipeline end to end."""
    s = _segs(_t(spark, sf_dir, "events"))
    a = (s.filter(F.pmod(F.col("event_id"), F.lit(13)) == 0)
         .select("event_type", F.col("event_id").alias("a_id"),
                 "x1", "y1", "x2", "y2"))
    b = s.select("event_type", F.col("event_id").alias("b_id"),
                 F.col("x1").alias("u1"), F.col("y1").alias("v1"),
                 F.col("x2").alias("u2"), F.col("y2").alias("v2"))
    out = ops.segment_intersect_join(a, b, ["event_type"],
                                     ("x1", "y1", "x2", "y2"),
                                     ("u1", "v1", "u2", "v2"), _SEG_CELL)
    return out.filter(F.col("a_id") != F.col("b_id"))


_RUA_MOD = 7


def q_rect_union_area(spark, sf_dir):
    """Exact union-of-rectangles area per type (ops.rect_union_area)
    over sampled derived boxes: the coverage-footprint measurement,
    overlaps counted once, as the relational sweep — distinct x edges
    cut strips, a J3-style interval join finds each strip's active
    boxes, one A44 merge pass per strip unions the y-extents, and
    union_area = sum(strip_width * y_len), all exact BIGINT.  The
    oracle is fully DEFINITIONAL — explode every box into its unit
    cells and COUNT(DISTINCT cell) — so the two sides share no
    algorithmic structure at all, only the semantics."""
    r = _rects(_t(spark, sf_dir, "events")).filter(
        F.pmod(F.col("event_id"), F.lit(_RUA_MOD)) == 0)
    return ops.rect_union_area(r, ["event_type"],
                               ("x1", "y1", "x2", "y2"))


_COMOVE_R = 150
_COMOVE_K = 2


def q_comovement(spark, sf_dir):
    """Co-movement (flock) pairs (ops.comovement_pairs): movers on a
    deterministic per-user drift walk (position advances (1 + u%3,
    1 + u%5) per hour bucket, wrapping at the lattice edge), one
    position per (user, hour) by construction; pairs within euclidean
    {_COMOVE_R} for >= {_COMOVE_K} CONSECUTIVE hourly buckets.  The
    proximity decision is the exact int64 dist² filter; runs compress
    with the gaps-and-islands rule.  Oracle replays the definition —
    per-bucket all-pairs dist filter + t - row_number() islands."""
    ev = _t(spark, sf_dir, "events")
    u = F.col("user_id").cast("long")
    t = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3600000000)).cast("long")
    d = (ev.select(u.alias("uid"), t.alias("tb")).distinct()
         .select("uid", "tb",
                 F.pmod(F.col("uid") * 48271 + 11
                        + F.col("tb") * (1 + F.pmod(F.col("uid"), F.lit(3))),
                        F.lit(1000)).alias("x"),
                 F.pmod(F.col("uid") * 16807 + 523
                        + F.col("tb") * (1 + F.pmod(F.col("uid"), F.lit(5))),
                        F.lit(1000)).alias("y")))
    return ops.comovement_pairs(d, "uid", "tb", "x", "y",
                                _COMOVE_R, _COMOVE_K)


_EH_CELL = 50
_EH_MIN = 5


def q_emerging_hotspots(spark, sf_dir):
    """Emerging hotspots (ops.emerging_hotspots): per occupied 50-cell,
    the two-proportion pooled z comparing the cell's activity share in
    the recent third of event time against the earlier baseline —
    exact BIGINT evidence (n_recent, n_base) beside the one fixed IEEE
    z tree (divides + one sqrt, all correctly rounded).  The split
    instant is exact integer arithmetic (mn + 2*(mx-mn)//3 micros), so
    both engines partition the windows identically."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn, mx = ev.agg(F.min(us), F.max(us)).collect()[0]
    split = int(mn) + (2 * (int(mx) - int(mn))) // 3
    pts = _grid_points(ev).join(
        ev.select("event_id", (us >= F.lit(split)).alias("recent")),
        "event_id")
    return ops.emerging_hotspots(pts, "x", "y", "recent",
                                 _EH_CELL, _EH_MIN)


_VW_ROUNDS = 6
_VW_MAX2A = 50000


def q_simplify_vw(spark, sf_dir):
    """Visvalingam–Whyatt simplification (ops.simplify_vw_rounds) of
    each user's grid trace in (ts, event_id) order: {_VW_ROUNDS} rounds,
    each removing the single least-important interior vertex per key
    (smallest exact int64 doubled triangle area, ties on seq) when that
    area is <= {_VW_MAX2A}.  The <=R-removals survivor set is a
    well-defined engine-independent quantity, so the chained-CTE oracle
    replays every round exactly even for keys not yet converged — the
    fixed-round contract pagerank/kmeans/sssp already use."""
    ev = _t(spark, sf_dir, "events")
    g = _grid_points(ev).select("event_id", "x", "y")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (ev.select("user_id", "ts", "event_id")
         .withColumn("seq", F.row_number().over(w).cast("long"))
         .join(g, "event_id"))
    return ops.simplify_vw_rounds(d, ["user_id"], "seq", "x", "y",
                                  _VW_ROUNDS, _VW_MAX2A)


def _vw_oracle_sql() -> str:
    cross = ("abs((x - px) * (ny - py) - (y - py) * (nx - px))")
    rounds = []
    for i in range(_VW_ROUNDS):
        rounds.append(f"""
r{i + 1} AS (
  SELECT user_id, seq, x, y FROM (
    SELECT user_id, seq, x, y,
           (px IS NOT NULL AND nx IS NOT NULL
            AND {cross} <= {_VW_MAX2A}) AS cand,
           CASE WHEN px IS NOT NULL AND nx IS NOT NULL
                     AND {cross} <= {_VW_MAX2A}
                THEN {cross} END AS a2
    FROM (
      SELECT user_id, seq, x, y,
             lag(x) OVER w AS px, lag(y) OVER w AS py,
             lead(x) OVER w AS nx, lead(y) OVER w AS ny
      FROM r{i} WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    )
  )
  QUALIFY NOT (cand AND row_number() OVER (PARTITION BY user_id
      ORDER BY cand DESC, a2 ASC NULLS LAST, seq) = 1)
)""")
    return f"""
WITH r0 AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS BIGINT) AS seq,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),{','.join(rounds)}
SELECT user_id, seq, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
FROM r{_VW_ROUNDS}
"""


_ST_R = 60
_ST_TBAND_US = 86_400_000_000          # 1 day in exact micros
_STDB_EPS, _STDB_EPST_US, _STDB_MINPTS = 60, 259_200_000_000, 4


def q_st_radius_join(spark, sf_dir):
    """Spatiotemporal radius join (ops.st_radius_join): same-type event
    pairs within euclidean {_ST_R} in derived grid space AND within one
    day in exact event-time micros — the contact-tracing / near-miss
    primitive.  Candidates ride the banding rewrite lifted to 3-D (x/y
    binned at r, t binned at the band; 3x3x3 probe-side explode, single
    true bin on the build side) so each pair is generated exactly once
    ahead of the exact int64 dist² and |dt| filters — hot cells AND hot
    days both spread across the lattice, and no per-key quadratic
    surface ever exists.  Oracle replays the definition as the per-type
    inequality join; a_id < b_id keeps each unordered pair once and
    fixes dt's sign."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = _grid_points(ev).join(ev.select("event_id", us.alias("t")),
                              "event_id")
    a = d.select("event_type", F.col("event_id").alias("a_id"),
                 F.col("x").alias("ax"), F.col("y").alias("ay"),
                 F.col("t").alias("at"))
    b = d.select("event_type", F.col("event_id").alias("b_id"),
                 F.col("x").alias("bx"), F.col("y").alias("by"),
                 F.col("t").alias("bt"))
    out = ops.st_radius_join(a, b, ["event_type"],
                             ("ax", "ay", "at"), ("bx", "by", "bt"),
                             _ST_R, _ST_TBAND_US)
    return out.filter(F.col("a_id") < F.col("b_id"))


def q_st_dbscan(spark, sf_dir):
    """ST-DBSCAN (clustering.st_dbscan) over the click events' derived
    grid points with exact micros timestamps: the neighbor relation is
    dist² <= eps² AND |dt| <= eps_t, so a place revisited outside the
    temporal band does NOT merge — the property plain DBSCAN cannot
    express.  Same deterministic semantics as dbscan_grid (closed
    neighborhoods, core iff n >= {_STDB_MINPTS}, min-id components of
    the core-core graph, border -> min neighboring core's cluster,
    noise NULL); both axis decisions are exact int64.  Oracle restates
    the definition: all-pairs two-axis neighborhood + recursive-CTE
    closure."""
    from engine import clustering
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = (_grid_points(ev).join(ev.select("event_id", us.alias("t")),
                                 "event_id")
           .select("event_id", "x", "y", "t"))
    return clustering.st_dbscan(pts, "event_id", "x", "y", "t",
                                eps=_STDB_EPS, eps_t=_STDB_EPST_US,
                                min_pts=_STDB_MINPTS)


_KNN_R, _KNN_K = 80, 3
_GF_R_BASE, _GF_R_STEP = 40, 20
_IDW_R, _IDW_WBITS = 50, 12


def q_knn_join(spark, sf_dir):
    """Bounded kNN join (ops.knn_join_bounded): for every 'view' event,
    its {_KNN_K} nearest 'click' events within euclidean {_KNN_R} on the
    derived grid, ranked under the total (dist2, b_id) order — grid-
    banded candidates, one id-only rank exchange.  Oracle replays the
    definition: all-pairs within-radius join + row_number window."""
    d = _grid_points(_t(spark, sf_dir, "events"))
    a = (d.filter(F.col("event_type") == "view")
         .select(F.col("event_id").alias("a_id"),
                 F.col("x").alias("ax"), F.col("y").alias("ay")))
    b = (d.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("b_id"),
                 F.col("x").alias("bx"), F.col("y").alias("by")))
    return ops.knn_join_bounded(a, b, [], "ax", "ay", "bx", "by",
                                _KNN_R, _KNN_K)


def q_skyline_rows(spark, sf_dir):
    """Row-preserving skyline (ops.skyline_min_rows): per event type,
    the Pareto-minimal
    derived grid points (no other same-type point with x <= AND y <=
    and one strict), each surviving ROW carried through incl. exact
    frontier duplicates — the selection-shaped complement of the
    skyline_2d staircase aggregate.  The oracle is fully DEFINITIONAL
    (NOT EXISTS dominance anti-join), sharing zero algorithmic
    structure with the engine's running-min frames."""
    return ops.skyline_min_rows(
        _grid_points(_t(spark, sf_dir, "events")),
        ["event_type"], "x", "y")


def q_geofence_visits(spark, sf_dir):
    """Geofence visits (ops.geofence_visits): per (user, circular fence
    derived from the nation table) the maximal consecutive-in-trace
    runs inside the fence, as (enter_ts, exit_ts, n_points) — fences
    ride broadcast over <= 9 cover cells, the trace shuffles once for
    seq and hits once for the island agg.  Oracle replays the chain:
    row_number seq, exact dist² join, gaps-and-islands, agg."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(
        ev.select("event_id", "user_id", "ts"), "event_id")
    n = F.col("n_nationkey").cast("long")
    fences = _t(spark, sf_dir, "nation").select(
        n.alias("fence_id"),
        F.pmod(n * 317 + 41, F.lit(1000)).alias("cx"),
        F.pmod(n * 631 + 97, F.lit(1000)).alias("cy"),
        (F.lit(_GF_R_BASE) + F.pmod(n, F.lit(5)) * _GF_R_STEP)
        .alias("r"))
    return ops.geofence_visits(pts, fences, "user_id",
                               ["ts", "event_id"], "x", "y", "ts")


def q_idw_grid(spark, sf_dir):
    """Quantized IDW interpolation (ops.idw_quantized): predict a
    derived integer value surface at {100} supplier-derived target
    points from all event grid points within {_IDW_R}, with the weight
    2^{_IDW_WBITS} div (1+dist²) and the prediction sum(w·v) div
    sum(w) — every intermediate an exact BIGINT so the surface hashes
    identically cross-engine.  Oracle replays the definition with
    DuckDB integer division."""
    ev = _grid_points(_t(spark, sf_dir, "events"))
    e = F.col("event_id").cast("long")
    src = ev.select(F.col("event_id").alias("s_id"), "x", "y",
                    F.pmod(e * 7919 + 3, F.lit(1000)).alias("v"))
    s = F.col("s_suppkey").cast("long")
    tgt = _t(spark, sf_dir, "supplier").select(
        s.alias("t_id"),
        F.pmod(s * 389 + 7, F.lit(1000)).alias("tx"),
        F.pmod(s * 911 + 3, F.lit(1000)).alias("ty"))
    return ops.idw_quantized(tgt, src, [], "tx", "ty", "x", "y", "v",
                             _IDW_R, w_bits=_IDW_WBITS,
                             max_neighbors=1 << (62 - _IDW_WBITS - 31))


_RIPLEY_RADII, _RIPLEY_AREA = (10, 25, 50, 100), 1000 * 1000
_KNOX_R, _KNOX_TBAND_US = 40, 6 * 3600 * 1000 * 1000


def q_ripley_k(spark, sf_dir):
    """Ripley's K ladder (ops.ripley_k): per event type, the exact
    ordered within-radius pair count at each radius in
    {_RIPLEY_RADII} over the derived grid points, plus the quantized
    estimator k_q = (area·n_pairs) div (n(n−1)) — the classic
    clustering-vs-dispersion diagnostic, every emitted number exact
    BIGINT.  One banding candidate pass at max radius; each pair
    explodes over only the ladder rungs that admit it.  Oracle is
    DEFINITIONAL: all-pairs per-radius counts off a rung×pair join."""
    return ops.ripley_k(_grid_points(_t(spark, sf_dir, "events")),
                        ["event_type"], "event_id", "x", "y",
                        _RIPLEY_RADII, _RIPLEY_AREA)


def q_knox_test(spark, sf_dir):
    """Knox space-time interaction test (ops.knox_test): per event
    type, the exact unordered-pair evidence that spatially-close
    events (dist <= {_KNOX_R} on the derived grid) are also
    temporally close (|dt| <= 6h in exact micros) — X, the two
    marginal counts, E[X] as an exact fraction, and the excess
    x_st·n_den − ns·nt whose SIGN is the association with no float
    anywhere.  Three banding joins (3-D/2-D/1-D), four key-sized
    aggs.  Oracle replays the definition over the all-pairs join."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = _grid_points(ev).join(ev.select("event_id", us.alias("t")),
                              "event_id")
    return ops.knox_test(d, ["event_type"], "event_id", "x", "y", "t",
                         _KNOX_R, _KNOX_TBAND_US)


_JC_R = 30


def q_join_counts(spark, sf_dir):
    """Cliff–Ord join-count statistics (ops.join_count_stats): per
    event type over the derived grid points with the binary mark
    x < 500 (spatially clustered BY CONSTRUCTION — the west half is
    all-black), the exact BB/WW/BW neighbor-pair counts within radius
    {_JC_R} against their CSR expectations as exact fractions, plus
    the three excesses whose sign IS the autocorrelation verdict —
    dbb, dww > 0 here because the mark is a spatial half-plane.  One
    radius join with both marks riding as carry columns, two key-sized
    aggs.  Oracle is definitional: all unordered pairs, conditional
    counts, the same integer products."""
    d = _grid_points(_t(spark, sf_dir, "events")).withColumn(
        "mark", (F.col("x") < 500).cast("long"))
    return ops.join_count_stats(d, ["event_type"], "event_id",
                                "x", "y", "mark", _JC_R)


def q_hausdorff_match(spark, sf_dir):
    """Trajectory-to-template matching (spatial.hausdorff_to_templates):
    for every user's trace point set (derived grid) against a 5-route
    template library derived from the region table (5 points per
    route via two LCGs), the SQUARED-exact symmetric Hausdorff
    distance — h_ab = max_a min_b dist², h_ba the reverse, h_sym their
    max — plus is_best under the total (h_sym, tpl_id) order.
    Templates broadcast; both directions collapse through
    (key, tpl, point)-grain combinable min aggs so the cross product
    never rides an exchange.  Oracle restates the min/max definition
    over the full cross join."""
    from engine import spatial
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(ev.select("event_id", "user_id"),
                                "event_id")
    rk = F.col("r_regionkey").cast("long")
    j = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j")
    tpl = (_t(spark, sf_dir, "region").select(rk.alias("tpl_id"), j)
           .select("tpl_id",
                   F.pmod(F.col("tpl_id") * 37 + F.col("j") * 101 + 13,
                          F.lit(1000)).alias("tx"),
                   F.pmod(F.col("tpl_id") * 59 + F.col("j") * 211 + 17,
                          F.lit(1000)).alias("ty")))
    return spatial.hausdorff_to_templates(pts, tpl, ["user_id"],
                                          "x", "y")


def q_areal_interp(spark, sf_dir):
    """Areal interpolation (ops.areal_interp): redistribute a derived
    integer mass from 25 nation-derived source rectangles onto the
    regular 5x5 / 200-cell target tiling of the grid, each piece
    contributing (v·overlap_cells) div source_cells — exact int64
    throughout, zero-coverage tiles present with zeros.  One
    canonical-cell bbox overlap join with the value riding as carry,
    one combinable tgt-keyed agg.  Oracle replays the definition with
    greatest/least intersection boxes and DuckDB integer division."""
    n = F.col("n_nationkey").cast("long")
    src = _t(spark, sf_dir, "nation").select(
        n.alias("src_id"),
        F.pmod(n * 97 + 1, F.lit(900)).alias("x1"),
        F.pmod(n * 131 + 7, F.lit(900)).alias("y1"),
        (F.pmod(n * 97 + 1, F.lit(900)) + 40 + F.pmod(n, F.lit(60)))
        .alias("x2"),
        (F.pmod(n * 131 + 7, F.lit(900)) + 40
         + F.pmod(n * 3, F.lit(60))).alias("y2"),
        (F.lit(100) + F.pmod(n * 7919, F.lit(900))).alias("v"))
    rk = F.col("r_regionkey").cast("long")
    j = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j")
    tgt = (_t(spark, sf_dir, "region").select(rk.alias("_r"), j)
           .select((F.col("_r") * 5 + F.col("j")).alias("tgt_id"),
                   (F.col("_r") * 200).alias("tx1"),
                   (F.col("j") * 200).alias("ty1"),
                   (F.col("_r") * 200 + 199).alias("tx2"),
                   (F.col("j") * 200 + 199).alias("ty2")))
    return ops.areal_interp(src, tgt, [], ("x1", "y1", "x2", "y2"),
                            ("tx1", "ty1", "tx2", "ty2"), "v",
                            cell=128)


_SNAP_R = 50


def q_snap_segments(spark, sf_dir):
    """Map matching (spatial.snap_to_segments): snap every event grid
    point to its nearest supplier-derived road segment within
    {_SNAP_R}, under the deterministic total order (d2_floor,
    d2_frac_q, seg_id) — floor of the true squared distance plus its
    2^-20-quantized fraction, both exact integers (the interior-
    projection case is the rational cross²/L2; endpoint regimes are
    exact with rem 0).  Segments explode over their r-expanded bbox
    cells while the CORPUS keeps its single true cell (exactly-once
    candidates, no point-side explode); in-range membership is exact,
    not quantized.  The oracle replays the same arithmetic over ALL
    (point, segment) pairs — certifying the whole filter-refine
    pipeline, not just the predicate."""
    from engine import spatial
    pts = _grid_points(_t(spark, sf_dir, "events"))
    s = F.col("s_suppkey").cast("long")
    segs = _t(spark, sf_dir, "supplier").select(
        s.alias("seg_id"),
        F.pmod(s * 211 + 5, F.lit(1000)).alias("x1"),
        F.pmod(s * 499 + 11, F.lit(1000)).alias("y1"),
        (F.pmod(s * 211 + 5, F.lit(1000))
         + F.pmod(s * 53, F.lit(81)) - 40).alias("x2"),
        (F.pmod(s * 499 + 11, F.lit(1000))
         + F.pmod(s * 29, F.lit(81)) - 40).alias("y2"))
    return spatial.snap_to_segments(pts, segs, [], "x", "y",
                                    "x1", "y1", "x2", "y2", _SNAP_R,
                                    p_id="event_id")


def q_focal_stats(spark, sf_dir):
    """Raster focal statistics (tiles.focal_stats): bin the derived
    grid points into 40-unit cells per event type (the value is the
    exact occupancy count), then compute each occupied cell's 3×3
    neighborhood sum / occupied-count / min / max — the map-algebra
    moving-window op, all exact BIGINT.  The engine SCATTERS every
    cell to its 9 neighbors into one combinable agg; the oracle
    GATHERS with an |dcx|<=1 AND |dcy|<=1 self-join — different
    algorithmic shapes, same function."""
    from engine import tiles
    ras = (_grid_points(_t(spark, sf_dir, "events"))
           .groupBy("event_type", F.expr("x div 40").alias("cx"),
                    F.expr("y div 40").alias("cy"))
           .agg(F.count(F.lit(1)).cast("long").alias("v")))
    return tiles.focal_stats(ras, ["event_type"], "cx", "cy", "v")


_SGF_GAP_S = 3 * 24 * 3600


def q_stream_geofence(spark, sf_dir):
    """Streaming geofence visits (streaming.stream_geofence) under the
    exact-oracle gate: the event point stream hits the nation-derived
    fence dim via a map-side broadcast cover-cell join (exact int64
    dist² decision), then folds into per-(user, fence)
    session_window({_SGF_GAP_S}s) visits, append mode, watermark
    {{_STREAM_WM}} declared BEFORE the join so eviction tracks the
    full stream's event-time high-water mark.  Oracle replays the
    session rule in µs (merge while gap <= {_SGF_GAP_S}s, end = last
    + gap, emit iff end <= floor(max_ts_ms)·1000 − delay) over the
    definitional hit join — the streaming twin of geofence_visits
    with the documented time-gap (not consecutive-trace) split."""
    from engine import streaming
    ev = _t(spark, sf_dir, "events")
    pts = (_grid_points(ev)
           .join(ev.select("event_id", "user_id", "ts"), "event_id")
           .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                   "x", "y"))
    n = F.col("n_nationkey").cast("long")
    fences = _t(spark, sf_dir, "nation").select(
        n.alias("fence_id"),
        F.pmod(n * 317 + 41, F.lit(1000)).alias("cx"),
        F.pmod(n * 631 + 97, F.lit(1000)).alias("cy"),
        (F.lit(_GF_R_BASE) + F.pmod(n, F.lit(5)) * _GF_R_STEP)
        .alias("r"))
    out = _run_stream(
        spark, pts,
        lambda s: streaming.stream_geofence(s, fences, _SGF_GAP_S,
                                            watermark=_STREAM_WM),
        "stream_geofence_out")
    return out.select("user_id", "fence_id",
                      epoch_s(F.col("enter_ts")).alias("enter_s"),
                      epoch_s(F.col("exit_ts")).alias("exit_s"),
                      F.col("n_points").cast("long").alias("n_points"))


def q_quadrat_test(spark, sf_dir):
    """Quadrat-count CSR test (ops.quadrat_test): per event type over
    the derived grid points, the exact chi²-of-dispersion evidence on
    the 10×10 quadrat partition of [0,1000)² — n, occupied quadrats,
    Σcount², and chi2_num = n_quadrats·Σc² − n² whose comparison
    against (n_quadrats−1)·n is the clustered-vs-regular verdict with
    no float anywhere.  Two shrinking exchanges.  Oracle replays the
    definition: quadrat floor-div counts, the same integer tree."""
    return ops.quadrat_test(_grid_points(_t(spark, sf_dir, "events")),
                            ["event_type"], "x", "y",
                            0, 0, 1000, 1000, 10, 10)


def q_cross_k(spark, sf_dir):
    """Bivariate Ripley cross-K (ops.ripley_cross_k): the attraction-
    vs-repulsion diagnostic between the 'view' and 'click' point
    classes over the rung ladder {_RIPLEY_RADII}, exact ordered
    cross-pair counts plus k_q = (area·pairs) div (n_a·n_b).  Same
    exact-BIGINT contract and banding shape as ripley_k.  Oracle:
    definitional all-cross-pairs per rung."""
    d = _grid_points(_t(spark, sf_dir, "events"))
    a = (d.filter(F.col("event_type") == "view")
         .select(F.col("event_id").alias("aid"),
                 F.col("x").alias("ax"), F.col("y").alias("ay")))
    b = (d.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("bid"),
                 F.col("x").alias("bx"), F.col("y").alias("by")))
    return ops.ripley_cross_k(a, b, [], "aid", "ax", "ay",
                              "bid", "bx", "by",
                              _RIPLEY_RADII, _RIPLEY_AREA)


def q_catchment(spark, sf_dir):
    """Network-Voronoi catchment (graph.catchment_rounds): every host
    node assigned to the seed (node % 17 == 0) that reaches it
    cheapest within {_SSSP_ROUNDS} Bellman-Ford rounds over the same
    weighted host graph as sssp_weighted, ties to the smaller seed id
    — the lexicographic-min (dist, source) pair is a well-defined
    fixed-round quantity, replayed by the oracle as chained
    MATERIALIZED CTE rounds with a per-round (dist, org) rank."""
    from engine.graph import catchment_rounds
    docs = _t(spark, sf_dir, "documents")
    e = _pr_edges(docs).withColumn(
        "w", (F.lit(1) + F.pmod(F.col("src") * 7 + F.col("dst") * 13,
                                F.lit(20))).cast("long"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    return catchment_rounds(e, nodes.filter(F.col("node") % 17 == 0),
                            rounds=_SSSP_ROUNDS)


def _catchment_oracle_sql() -> str:
    rounds = []
    for i in range(_SSSP_ROUNDS):
        rounds.append(f"""
c{i + 1} AS MATERIALIZED (
  SELECT node, dist, catchment FROM (
    SELECT node, dist, catchment,
           row_number() OVER (PARTITION BY node
                              ORDER BY dist, catchment) AS rk
    FROM (
      SELECT node, dist, catchment FROM c{i}
      UNION ALL
      SELECT e.dst AS node, c.dist + e.w AS dist, c.catchment
      FROM c{i} c JOIN e ON e.src = c.node
    )
  ) WHERE rk = 1
)""")
    return f"""
WITH e AS MATERIALIZED (
  SELECT src, dst, CAST(1 + (src * 7 + dst * 13) % 20 AS BIGINT) AS w
  FROM (
    SELECT DISTINCT src, dst FROM (
      SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
             (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES}
               AS dst
      FROM documents
    ) WHERE src != dst
  )
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
c0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist, node AS catchment
  FROM nodes WHERE node % 17 = 0
),{",".join(rounds)}
SELECT node, dist, catchment FROM c{_SSSP_ROUNDS}
"""


_COLOC_R = 25


def q_colocation(spark, sf_dir):
    """Co-location participation (ops.colocation_participation): for
    every ordered pair of event types, the exact count of points with
    a neighbor of the other type within {_COLOC_R} on the derived
    grid, the type total, and the 2^-20-quantized participation ratio
    — the co-location pattern-mining interestingness measure.  One
    radius join with both type labels riding as carry, a two-level
    partial-distinct agg, a dim-sized type-pair skeleton.  Oracle is
    definitional: all-pairs EXISTS per (a-point, type_b)."""
    return ops.colocation_participation(
        _grid_points(_t(spark, sf_dir, "events")), [], "event_id",
        "event_type", "x", "y", _COLOC_R)


def q_gyration(spark, sf_dir):
    """Radius of gyration (ops.radius_of_gyration): per user over the
    derived grid points, the González-Hidalgo-Barabási mobility
    statistic as exact integer evidence — n, the centroid sums, and
    rg² = rg2_num / n² via the algebraic expansion n·Σ(x²+y²) − (Σx)²
    − (Σy)², plus the quantized rg2_q — ONE combinable agg; the
    exchange carries a 6-number row per user.  Oracle replays the
    same sums and products."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(ev.select("event_id", "user_id"),
                                "event_id")
    return ops.radius_of_gyration(pts, ["user_id"], "x", "y")


_DISP_EDGES = (25, 2500, 62500, 250000)


def q_displacement(spark, sf_dir):
    """Jump-length histogram (ops.displacement_hist): per user, exact
    counts of consecutive-step squared displacements (trace ordered by
    ts, event_id) over the declared dist² edge ladder {_DISP_EDGES} +
    open tail, plus exact step totals and Σdist² — the power-law-tail
    distribution check, all BIGINT.  One ordered window, codegen bin
    assignment, two shrinking aggs.  Oracle replays lag + the same
    edge-count bin rule."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(
        ev.select("event_id", "user_id", "ts"), "event_id")
    return ops.displacement_hist(pts, ["user_id"],
                                 ["ts", "event_id"], "x", "y",
                                 _DISP_EDGES)


def q_location_diversity(spark, sf_dir):
    """Location diversity (ops.location_diversity): per user over the
    40-unit cells of the derived grid, exact ping count, distinct
    cells, the top cell (ties to the lexicographically smallest cell
    — one struct-min agg, not a window) and the 2^-20-quantized top
    share — the entropy-free predictability proxy.  Oracle replays
    the cell counts and the same deterministic top pick."""
    ev = _t(spark, sf_dir, "events")
    pts = (_grid_points(ev)
           .join(ev.select("event_id", "user_id"), "event_id")
           .withColumn("cx", F.expr("x div 40"))
           .withColumn("cy", F.expr("y div 40")))
    return ops.location_diversity(pts, ["user_id"], "cx", "cy")


def q_dissolve(spark, sf_dir):
    """Spatial dissolve (ops.rect_components): the 25 nation-derived
    rectangles grouped into touch-or-overlap components (closed-box
    rule — exact-touch seams merge), each rect labeled with its
    component's min id plus the dissolved bbox and member count.
    Edges from one canonical-cell bbox overlap pass; components via
    min-label pointer jumping with id-only exchanges.  Oracle replays
    the closure as a recursive CTE + the same component aggs."""
    n = F.col("n_nationkey").cast("long")
    src = _t(spark, sf_dir, "nation").select(
        n.alias("rid"),
        F.pmod(n * 97 + 1, F.lit(900)).alias("x1"),
        F.pmod(n * 131 + 7, F.lit(900)).alias("y1"),
        (F.pmod(n * 97 + 1, F.lit(900)) + 40 + F.pmod(n, F.lit(60)))
        .alias("x2"),
        (F.pmod(n * 131 + 7, F.lit(900)) + 40
         + F.pmod(n * 3, F.lit(60))).alias("y2"))
    return ops.rect_components(src, [], "rid",
                               ("x1", "y1", "x2", "y2"), cell=128)


_NND_RMAX = 60


def q_nn_distance(spark, sf_dir):
    """Nearest-neighbor distance statistics (ops.nn_distance_stats):
    per event type, exact Clark-Evans evidence — matched/isolated
    counts within {_NND_RMAX}, Σdist², max dist², and Σ⌊√dist²⌋ via
    the exact integer sqrt (float sqrt + ±1 correction, valid for
    d² <= 2⁵²; both engines compute the identical integer).  One
    bounded-kNN pass at k=1 (self-pair excluded), two key-sized aggs.
    Oracle replays the all-pairs NN rank and the same isqrt tree."""
    d = _grid_points(_t(spark, sf_dir, "events"))
    return ops.nn_distance_stats(d, ["event_type"], "event_id",
                                 "x", "y", _NND_RMAX)


def q_directional(spark, sf_dir):
    """Standard-deviational-ellipse evidence (ops.directional_stats):
    per user, the exact centered second-moment tensor (sxx/syy/sxy
    numerators over the common denominator n²) via the same
    n²-clearing expansion as gyration — ONE combinable agg, an
    8-number row per user on the exchange; the ellipse itself is a
    driver-side 2×2 eigen-solve downstream.  Oracle replays the same
    sums and products."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(ev.select("event_id", "user_id"),
                                "event_id")
    return ops.directional_stats(pts, ["user_id"], "x", "y")


def q_mobility_report(spark, sf_dir):
    """END-TO-END mobility report — the geospatial composition
    capstone (the mobility twin of curation_pipeline): per user, ONE
    frame joining the exact mobility triple — radius-of-gyration
    evidence (A57), location-diversity top-share (A59), and the
    geofence visit count + total dwell points (G5) — every number
    exact BIGINT, every stage one of the proven oracle-checked ops,
    composed with two broadcast-sized joins on user_id.  Users with
    zero fence visits are PRESENT with zeros.  The oracle chains the
    three stage oracles as CTEs over the same base tables."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(
        ev.select("event_id", "user_id", "ts"), "event_id")
    gy = ops.radius_of_gyration(pts, ["user_id"], "x", "y")
    dv = ops.location_diversity(
        pts.withColumn("cx", F.expr("x div 40"))
           .withColumn("cy", F.expr("y div 40")),
        ["user_id"], "cx", "cy")
    n = F.col("n_nationkey").cast("long")
    fences = _t(spark, sf_dir, "nation").select(
        n.alias("fence_id"),
        F.pmod(n * 317 + 41, F.lit(1000)).alias("cx"),
        F.pmod(n * 631 + 97, F.lit(1000)).alias("cy"),
        (F.lit(_GF_R_BASE) + F.pmod(n, F.lit(5)) * _GF_R_STEP)
        .alias("r"))
    vis = (ops.geofence_visits(pts, fences, "user_id",
                               ["ts", "event_id"], "x", "y", "ts")
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_visits"),
                F.sum("n_points").cast("long").alias("visit_points")))
    z = F.lit(0).cast("long")
    return (gy.select("user_id", "n_pts", "rg2_num", "rg2_den", "rg2_q")
            .join(dv.select("user_id", "n_cells", "top_count",
                            "top_share_q"), "user_id")
            .join(vis, "user_id", "left")
            .select("user_id", "n_pts", "rg2_num", "rg2_den", "rg2_q",
                    "n_cells", "top_count", "top_share_q",
                    F.coalesce(F.col("n_visits"), z).alias("n_visits"),
                    F.coalesce(F.col("visit_points"), z)
                    .alias("visit_points")))


def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend test (ops.mann_kendall): per 100-unit grid
    cell, the exact S statistic and tie-corrected variance numerator
    over the cell's daily event-count series — the monotone-trend
    significance companion of theil_sen, pairing with
    emerging_hotspots for the space-time-statistics corner.  Every
    number exact BIGINT; the per-key pair surface is bucket-sized by
    design.  Oracle replays the sign pairs and the tie sum."""
    ev = _t(spark, sf_dir, "events")
    d = (_grid_points(ev)
         .join(ev.select("event_id", "ts"), "event_id")
         .select(F.expr("x div 100").alias("qx"),
                 F.expr("y div 100").alias("qy"),
                 F.date_trunc("DAY", F.col("ts")).alias("day"))
         .groupBy("qx", "qy", "day")
         .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
         .withColumn("day_us", F.unix_micros(F.col("day"))))
    return ops.mann_kendall(d, ["qx", "qy"], "day_us", "cnt")


def q_cdc_incr_gyration(spark, sf_dir):
    """Incremental mobility matview over the MOR CDC table
    (catalog.incr_gyration_apply) — the lakehouse × geospatial
    bridge: the per-event-type mobility state (count, Σx, Σy,
    Σ(x²+y²)) is bootstrapped from the first CDC batch's folded
    state, maintained DIFFERENTIALLY through two more batches of
    position upserts and deletes (only batch + affected pre-batch
    rows ever re-read), and the gyration numerators derived at read
    time — incremental == full recompute is the contract.  The
    oracle recomputes from the final folded state (max-seq winners,
    deletes dropped) with the same expansion."""
    import tempfile

    from engine import catalog
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id").cast("long")
    ch = ev.select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("g"),
        F.pmod(e * 48271 + 11, F.lit(1000)).alias("x"),
        F.pmod(e * 16807 + 523, F.lit(1000)).alias("y"),
        F.when(F.pmod(F.col("user_id"), F.lit(11)) == 0, F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("seq"))
    tbl = tempfile.mkdtemp(prefix="cdc_gyr_")
    mx = int(ch.agg(F.max("seq")).collect()[0][0])
    t1, t2 = mx // 3, 2 * mx // 3
    b0 = ch.filter(F.col("seq") <= t1)
    b1 = ch.filter((F.col("seq") > t1) & (F.col("seq") <= t2))
    b2 = ch.filter(F.col("seq") > t2)
    catalog.write_cdc_delta(b0, tbl, 0, "k")
    xl = F.col("x").cast("long")
    yl = F.col("y").cast("long")
    agg = (catalog.read_merge_on_read(spark, tbl, "k")
           .groupBy("g").agg(F.count(F.lit(1)).cast("long")
                             .alias("cnt"),
                             F.sum(xl).cast("long").alias("sx"),
                             F.sum(yl).cast("long").alias("sy"),
                             F.sum(xl * xl + yl * yl).cast("long")
                             .alias("ssq")))
    for i, b in ((1, b1), (2, b2)):
        pre = catalog.read_merge_on_read(spark, tbl, "k")
        agg = catalog.incr_gyration_apply(agg, pre, b, "k", "g",
                                          "x", "y")
        catalog.write_cdc_delta(b, tbl, i, "k")
    n = F.col("cnt")
    return agg.select(
        "g", "cnt", "sx", "sy", "ssq",
        (n * F.col("ssq") - F.col("sx") * F.col("sx")
         - F.col("sy") * F.col("sy")).alias("rg2_num"),
        (n * n).alias("rg2_den"))


def q_toponym_match(spark, sf_dir):
    """Toponym resolution (text.fuzzy_lookup): event-derived place
    mentions — the true nation name with a deterministic single-char
    deletion typo on two of every three mentions — matched against
    the nation gazetteer at levenshtein <= 2, with is_best under the
    (dist, gaz_id) order.  The PassJoin pigeonhole points one way:
    the gazetteer is segmented and BROADCAST, the corpus enumerates
    substrings and never shuffles for candidates.  Oracle is
    definitional: all (mention × gazetteer) pairs + levenshtein."""
    from engine import text as _text
    e = F.col("event_id").cast("long")
    nm = F.concat(F.lit("NATION_"),
                  F.pmod(e, F.lit(25)).cast("string"))
    p = (F.pmod(F.expr("CAST(event_id AS LONG) div 3"),
                F.length(nm)) + 1)
    mention = F.when(F.pmod(e, F.lit(3)) == 0, nm).otherwise(
        F.concat(nm.substr(F.lit(1), (p - 1).cast("int")),
                 nm.substr((p + 1).cast("int"), F.lit(100))))
    corpus = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("mention_id"),
        mention.alias("mention"))
    gaz = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("gaz_id"),
        F.col("n_name").alias("name"))
    return _text.fuzzy_lookup(corpus, gaz, "mention", "mention_id",
                              "name", "gaz_id", max_dist=2)


def q_heading_sectors(spark, sf_dir):
    """Heading-sector distribution (ops.heading_sectors): per user,
    exact counts of consecutive-step compass headings under the
    9-class integer rule (strict-dominant-axis cardinals, exact
    |dx|=|dy| diagonals, stationary) plus the dominant sector — the
    'which way' leg of the mobility profile, no atan2, no float.
    Oracle replays the lag + the same CASE tree + the same
    deterministic dominant pick."""
    ev = _t(spark, sf_dir, "events")
    pts = _grid_points(ev).join(
        ev.select("event_id", "user_id", "ts"), "event_id")
    return ops.heading_sectors(pts, ["user_id"], ["ts", "event_id"],
                               "x", "y")


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (tiles.zonal_stats): the 40-unit occupancy
    raster of the derived grid reduced over the 25 nation-derived
    rectangle zones — exact count/sum/min/max per zone, overlapping
    zones each counting shared cells, empty zones PRESENT with zero
    count and NULL min/max.  Zones broadcast over their cover cells;
    the raster never shuffles for containment.  Oracle is
    definitional: raster build + box-containment join + same aggs."""
    from engine import tiles
    ras = (_grid_points(_t(spark, sf_dir, "events"))
           .groupBy(F.expr("x div 40").alias("cx"),
                    F.expr("y div 40").alias("cy"))
           .agg(F.count(F.lit(1)).cast("long").alias("v")))
    n = F.col("n_nationkey").cast("long")
    zones = _t(spark, sf_dir, "nation").select(
        n.alias("zone_id"),
        F.expr("CAST((CAST(n_nationkey AS LONG) * 97 + 1) % 900 "
               "div 40 AS LONG)").alias("zx1"),
        F.expr("CAST((CAST(n_nationkey AS LONG) * 131 + 7) % 900 "
               "div 40 AS LONG)").alias("zy1"),
        (F.expr("CAST((CAST(n_nationkey AS LONG) * 97 + 1) % 900 "
                "div 40 AS LONG)") + 1 + F.pmod(n, F.lit(4)))
        .alias("zx2"),
        (F.expr("CAST((CAST(n_nationkey AS LONG) * 131 + 7) % 900 "
                "div 40 AS LONG)") + 1 + F.pmod(n * 3, F.lit(4)))
        .alias("zy2"))
    return tiles.zonal_stats(ras, zones, "cx", "cy", "v", cell=4)


def q_stream_steps(spark, sf_dir):
    """Online displacement extraction (streaming.stream_steps): the
    stateful per-user step machine over the event point stream — each
    consecutive (t_prev, t_curr, dist²) emitted the moment the next
    point arrives, exact int64 dist² identical to the batch A58
    contract.  With single-batch ingestion every step has both
    endpoints in-batch, so the oracle is the plain lag replay over
    (t, x, y)-sorted traces — value-exact, no eviction arithmetic
    needed (the machine emits on arrival, not on watermark)."""
    from engine import streaming
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = (_grid_points(ev)
           .join(ev.select("event_id", "user_id", "ts"), "event_id")
           .select(F.col("user_id").cast("long").alias("user_id"),
                   us.alias("t"), F.col("x").cast("long").alias("x"),
                   F.col("y").cast("long").alias("y")))
    return _run_stream(spark, pts, streaming.stream_steps,
                       "stream_steps_out")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "w2_sessionize": q_w2_sessionize,
        "a1_time_weights": q_a1_time_weights,
        "f3_seq_dedup": q_f3_seq_dedup,
        "w3_change_segments": q_w3_change_segments,
        "j3_interval_overlap": q_j3_interval_overlap,
        "j3_interval_binned": q_j3_interval_binned,
        "a6_group_totals": q_a6_group_totals,
        "a7_daily_summary": q_a7_daily_summary,
        "a9_distinct": q_a9_distinct,
        "o2_topk": q_o2_topk,
        "j6_asof_last_signup": q_j6_asof_last_signup,
        "x5_extract_geopoints": q_x5_extract_geopoints,
        "x3_interp_grid": q_x3_interp_grid,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q4": q_tpch_q4,
        "tpch_q21": q_tpch_q21,
        "tpch_q17": q_tpch_q17,
        "tpch_q2": q_tpch_q2,
        "tpch_q8": q_tpch_q8,
        "tpch_q11": q_tpch_q11,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q7": q_tpch_q7,
        "tpch_q9": q_tpch_q9,
        "tpch_q10": q_tpch_q10,
        "tpch_q12": q_tpch_q12,
        "tpch_q14": q_tpch_q14,
        "tpch_q19": q_tpch_q19,
        "tpch_q20": q_tpch_q20,
        "tpch_q22": q_tpch_q22,
        "tpch_q13": q_tpch_q13,
        "tpch_q18": q_tpch_q18,
        "naaj_not_in": q_naaj_not_in,
        "j7_full_outer": q_j7_full_outer,
        "bucketed_join": q_bucketed_join,
        "recursive_cte": q_recursive_cte,
        "a10_robust_aggs": q_a10_robust_aggs,
        "w6_range_frame": q_w6_range_frame,
        "w7_rank_family": q_w7_rank_family,
        "a9_grouping_sets": q_a9_grouping_sets,
        "sketch_gates": q_sketch_gates,
        "embed_quantize": q_embed_quantize,
        "tpch_q5": q_tpch_q5,
        "dedup_exact": q_dedup_exact,
        "boilerplate_tokens": q_boilerplate_tokens,
        "winnow_fingerprints": q_winnow_fingerprints,
        "cosine_near_dup": q_cosine_near_dup,
        "geo_sessions": q_geo_sessions,
        "j1_knn_assign": q_j1_knn_assign,
        "text_token_stats": q_text_token_stats,
        "vocab_topk": q_vocab_topk,
        "tfidf_topk": q_tfidf_topk,
        "bigram_topk": q_bigram_topk,
        "length_quantiles": q_length_quantiles,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "repetition_stats": q_repetition_stats,
        "pii_redact": q_pii_redact,
        "url_dedup": q_url_dedup,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "ann_topk_bruteforce": q_ann_topk_bruteforce,
        "kmeans_assign": q_kmeans,
        "quality_classifier": q_quality_classifier,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "cdc_merge": q_cdc_merge,
        "zorder_layout": q_zorder_layout,
        "pagerank_hosts": q_pagerank_hosts,
        "kmeans_prune": q_kmeans_prune,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "simhash_near_pairs": q_simhash_near_pairs,
        "simhash_dup_recall": q_simhash_dup_recall,
        "decontaminate": q_decontaminate,
        "decontaminate_bloom": q_decontaminate_bloom,
        "fuzzy_pairs": q_fuzzy_pairs,
        "entity_resolution": q_entity_resolution,
        "exact_quantiles": q_exact_quantiles,
        "x8_html_extract": q_x8_html_extract,
        "pca_power": q_pca_power,
        "curation_pipeline": q_curation_pipeline,
        "count_min": q_count_min,
        "stream_count_min": q_stream_count_min,
        "ann_topk_lsh": q_ann_topk_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_clusters": q_dedup_clusters,
        "ann_lsh_recall": q_ann_lsh_recall,
        "cosine_near_dup_recall": q_cosine_near_dup_recall,
        "ann_topk_ivf": q_ann_topk_ivf,
        "tiles_pyramid": q_tiles_pyramid,
        "geo_locations_quant": q_geo_locations_quant,
        "geo_episodes_quant": q_geo_episodes_quant,
        "stream_episodes": q_stream_episodes,
        "stream_sessionize": q_stream_sessionize,
        "stream_interval_join": q_stream_interval_join,
        "stream_w3_runs": q_stream_w3_runs,
        "stream_dedup_exact": q_stream_dedup_exact,
        "stream_cell_density": q_stream_cell_density,
        "tiles_mass_check": q_tiles_mass_check,
        "j4_pip": q_j4_pip,
        "media_decode": q_media_decode,
        "media_frame_sample": q_media_frame_sample,
        "geo_locations": q_geo_locations,
        "geo_episodes": q_geo_episodes,
        "w5_episodes": q_w5_episodes,
        "a7_labeled_day_summary": q_a7_labeled_day_summary,
        "a7_day_summary_episodes": q_a7_day_summary_episodes,
        "geo_agreement": q_geo_agreement,
        "a7_day_summary_quant": q_a7_day_summary_quant,
        "geo_agreement_quant": q_geo_agreement_quant,
        "geo_float_parity": q_geo_float_parity,
        "a9_cube": q_a9_cube,
        "o3_setops": q_o3_setops,
        "sample_stratified": q_sample_stratified,
        "x7_props_json": q_x7_props_json,
        "dedup_spans": q_dedup_spans,
        "dedup_paragraphs": q_dedup_paragraphs,
        "unigram_lm_score": q_unigram_lm_score,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "quality_buckets": q_quality_buckets,
        "resample_mixture": q_resample_mixture,
        "pq_adc_topk": q_pq_adc_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "ivfpq_recall": q_ivfpq_recall,
        "bm25_topk": q_bm25_topk,
        "tpch_q6": q_tpch_q6,
        "heavy_hitters": q_heavy_hitters,
        "heavy_hitters_gate": q_heavy_hitters_gate,
        "gapfill_locf": q_gapfill_locf,
        "gapfill_interp": q_gapfill_interp,
        "unpivot_melt": q_unpivot_melt,
        "lateral_topk": q_lateral_topk,
        "salted_join": q_salted_join,
        "stream_cdc_upsert": q_stream_cdc_upsert,
        "cdc_time_travel": q_cdc_time_travel,
        "scd2_build": q_scd2_build,
        "scd2_apply": q_scd2_apply,
        "cdc_incr_agg": q_cdc_incr_agg,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "cdc_incr_minmax": q_cdc_incr_minmax,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "partition_evolution": q_partition_evolution,
        # round-5 additions — APPENDED so existing driver rows keep their
        # positions (the driver's sweep grows monotonically; renames or
        # reorders would reset its green history)
        "geo_float_parity_sf01": q_geo_float_parity_sf01,
        "cdc_merge_pred": q_cdc_merge_pred,
        "stream_curation": q_stream_curation,
        "interval_coverage": q_interval_coverage,
        "skyline_2d": q_skyline_2d,
        "w8_count_distinct_window": q_w8_count_distinct_window,
        "bfs_distances": q_bfs_distances,
        "jaccard_prefix_join": q_jaccard_prefix_join,
        "triangle_counts": q_triangle_counts,
        "funnel_steps": q_funnel_steps,
        "cohort_retention": q_cohort_retention,
        "pmi_collocations": q_pmi_collocations,
        "transition_matrix": q_transition_matrix,
        "histogram_values": q_histogram_values,
        "zscore_outliers": q_zscore_outliers,
        "inverted_index": q_inverted_index,
        "phrase_search": q_phrase_search,
        "table_fingerprint": q_table_fingerprint,
        "profile_columns": q_profile_columns,
        "global_ordinal": q_global_ordinal,
        "ewma_values": q_ewma_values,
        "weighted_median": q_weighted_median,
        "linreg_trend": q_linreg_trend,
        "media_phash": q_media_phash,
        "stream_histogram": q_stream_histogram,
        "asof_nearest": q_asof_nearest,
        "running_median": q_running_median,
        "polygon_stats": q_polygon_stats,
        "cusum_alarm": q_cusum_alarm,
        "top_paths": q_top_paths,
        "trimmed_mean": q_trimmed_mean,
        "simplify_radial": q_simplify_radial,
        "negative_sampling": q_negative_sampling,
        "audience_overlap": q_audience_overlap,
        "stream_static_join": q_stream_static_join,
        "k_core": q_k_core,
        "label_propagation": q_label_propagation,
        "a9_rollup": q_a9_rollup,
        "sample_bottomk": q_sample_bottomk,
        "w10_ratio_to_report": q_w10_ratio_to_report,
        "gini_concentration": q_gini_concentration,
        "lift_table": q_lift_table,
        "max_drawdown": q_max_drawdown,
        "diversified_topk": q_diversified_topk,
        "golden_record": q_golden_record,
        "mad_scale": q_mad_scale,
        "benford_digits": q_benford_digits,
        "multiformat_source": q_multiformat_source,
        "dq_checks": q_dq_checks,
        "engagement_report": q_engagement_report,
        "quantiles_disc": q_quantiles_disc,
        "audience_overlap_hll": q_audience_overlap_hll,
        "band_join": q_band_join,
        "radius_join_2d": q_radius_join_2d,
        "dbscan_clusters": q_dbscan_clusters,
        "autocorr_lag1": q_autocorr_lag1,
        "basket_pairs": q_basket_pairs,
        "attribution_last_touch": q_attribution_last_touch,
        "link_pred_cn": q_link_pred_cn,
        "rfm_segments": q_rfm_segments,
        "od_flows": q_od_flows,
        "hotspot_gi": q_hotspot_gi,
        "knn_join_2d": q_knn_join_2d,
        "merge_intervals": q_merge_intervals,
        "sssp_weighted": q_sssp_weighted,
        "geo_radius_join": q_geo_radius_join,
        "ab_test_2prop": q_ab_test_2prop,
        "chi2_independence": q_chi2_independence,
        "welch_ttest": q_welch_ttest,
        "mannwhitney_u": q_mannwhitney_u,
        "spearman_corr": q_spearman_corr,
        "ks_2samp": q_ks_2samp,
        "convex_hull": q_convex_hull,
        "rolling_active": q_rolling_active,
        "theil_sen": q_theil_sen,
        "dbscan_geo": q_dbscan_geo,
        "trip_stats": q_trip_stats,
        "hull_diameter": q_hull_diameter,
        "bbox_join": q_bbox_join,
        "segment_join": q_segment_join,
        "rect_union_area": q_rect_union_area,
        "comovement": q_comovement,
        "emerging_hotspots": q_emerging_hotspots,
        "simplify_vw": q_simplify_vw,
        "st_radius_join": q_st_radius_join,
        "st_dbscan": q_st_dbscan,
        "knn_join": q_knn_join,
        "skyline_rows": q_skyline_rows,
        "geofence_visits": q_geofence_visits,
        "idw_grid": q_idw_grid,
        "ripley_k": q_ripley_k,
        "knox_test": q_knox_test,
        "join_counts": q_join_counts,
        "hausdorff_match": q_hausdorff_match,
        "areal_interp": q_areal_interp,
        "snap_segments": q_snap_segments,
        "focal_stats": q_focal_stats,
        "stream_geofence": q_stream_geofence,
        "quadrat_test": q_quadrat_test,
        "cross_k": q_cross_k,
        "catchment": q_catchment,
        "colocation": q_colocation,
        "gyration": q_gyration,
        "displacement": q_displacement,
        "location_diversity": q_location_diversity,
        "dissolve": q_dissolve,
        "nn_distance": q_nn_distance,
        "directional": q_directional,
        "mobility_report": q_mobility_report,
        "mann_kendall": q_mann_kendall,
        "cdc_incr_gyration": q_cdc_incr_gyration,
        "toponym_match": q_toponym_match,
        "heading_sectors": q_heading_sectors,
        "zonal_stats": q_zonal_stats,
        "stream_steps": q_stream_steps,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)
# ---------------------------------------------------------------------------

_SESSION_CTE = """
flags AS (
  SELECT user_id, event_id, ts, value, event_type,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > 3600.0
              THEN 1 ELSE 0 END AS newf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, value, event_type,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS subset_id
  FROM flags
)
"""

_SEGMENTS_CTE = """
chg AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER w = 1
                   OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS newf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS segment_id
  FROM chg
),
spans AS (
  SELECT user_id, segment_id, MIN(ts) AS start_ts, MAX(ts) AS last_ts,
         MIN(event_type) AS event_type, COUNT(*) AS n_rows
  FROM seg GROUP BY user_id, segment_id
),
spans2 AS (
  SELECT user_id, segment_id, start_ts, event_type, n_rows,
         COALESCE(lead(start_ts) OVER (PARTITION BY user_id ORDER BY start_ts),
                  last_ts) AS end_ts
  FROM spans
)
"""

# web_pages generation from events, mirrored arithmetic (see
# engine/datagen.py::web_pages_from_events — integer-arith PRN only)
_PAGES_CTE = """
gen AS (
  SELECT event_id, user_id, ts, event_type,
         ((CAST(user_id AS BIGINT) * 2654435761
           + ((CAST(floor(epoch(ts) / 21600.0) AS BIGINT) % 3 + 3) % 3) * 40503
           + 17) % 120000001) / 1e6 - 60.0 AS glat,
         ((CAST(user_id AS BIGINT) * 2654435761
           + ((CAST(floor(epoch(ts) / 21600.0) AS BIGINT) % 3 + 3) % 3) * 40503
           + 9176) % 350000001) / 1e6 - 175.0 AS glon,
         ((CAST(event_id AS BIGINT) * 48271 + 11) % 301 - 150) * 1e-6 AS jlat,
         ((CAST(event_id AS BIGINT) * 48271 + 523) % 301 - 150) * 1e-6 AS jlon,
         ((CAST(event_id AS BIGINT) * 69621 + 5) % 1200) / 10.0 AS acc,
         (CAST(event_id AS BIGINT) * 16807 + 3) % 100 < 5 AS no_token,
         (CAST(event_id AS BIGINT) * 7919 + 1) % 10 AS lang_code
  FROM events
),
pages AS (
  SELECT printf('https://host%04d.example/p/%09d',
                CAST(user_id % 10000 AS INT), CAST(event_id AS INT)) AS url,
         ts AS warc_ts,
         'Event ' || event_type || ' recorded.' ||
         CASE WHEN no_token THEN ''
              ELSE ' [geo:' || printf('%.6f', glat + jlat) || ','
                   || printf('%.6f', glon + jlon) || ';acc='
                   || printf('%.1f', acc) || ']' END AS text,
         CASE WHEN lang_code <= 6 THEN 'en' WHEN lang_code = 7 THEN 'fr'
              WHEN lang_code = 8 THEN 'de' ELSE 'zz' END AS lang
  FROM gen
)
"""

_GEOTAG_RE_SQL = r"\[geo:(-?\d+\.\d{6}),(-?\d+\.\d{6});acc=(\d+\.\d)\]"


def _hav_sql(lat1, lon1, lat2, lon2):
    """Haversine meters with the engine's exact float op order/clamping."""
    return (f"2.0 * 6371008.8 * asin(sqrt(least(greatest("
            f"pow(sin((radians({lat2}) - radians({lat1})) / 2.0), 2) "
            f"+ cos(radians({lat1})) * cos(radians({lat2})) "
            f"* pow(sin((radians({lon2}) - radians({lon1})) / 2.0), 2), "
            f"0.0), 1.0)))")


def _g1_chain_sql(n_iters: int = trace_prep.G1_ROUNDS, src: str = "g0",
                  carry: str = "") -> str:
    """G1 positional-jump fixpoint as `n_iters` chained SQL filter rounds —
    the exact drop rule of trace_prep._prep_host_sorted (interior: both
    adjacent implied speeds > max_speed; endpoints: implausible edge speed
    with a clean inner neighbor; ambiguous fast pair: keep the earlier
    fix).  The engine caps at trace_prep.G1_ROUNDS rounds (one source of
    truth for both sides) and converges in <= 3 on real data; chaining the
    full cap therefore reproduces it exactly (extra rounds are no-ops at
    fixpoint).  Threshold constants interpolate from engine.config.DEFAULT
    so a config change cannot silently desync the oracle.  `carry` appends
    extra passthrough columns (e.g. ", ceu") to each round's output."""
    hav_prev = _hav_sql("plat", "plon", "lat", "lon")
    hav_next = _hav_sql("lat", "lon", "nlat2", "nlon2")
    parts = []
    prev = src
    for i in range(1, n_iters + 1):
        parts.append(f"""g{i}a AS (
  SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         lag(ce) OVER w AS pce,
         lead(lat) OVER w AS nlat2, lead(lon) OVER w AS nlon2,
         lead(ce) OVER w AS nce,
         COUNT(*) OVER (PARTITION BY host) AS cnt,
         row_number() OVER w AS rn
  FROM {prev}
  WINDOW w AS (PARTITION BY host ORDER BY ce, url)
),
g{i}b AS (
  SELECT *,
         CASE WHEN pce IS NULL THEN NULL
              ELSE {hav_prev} / GREATEST(ce - pce, 1e-9) END
           > {DEFAULT.max_speed_ms} AS fprev,
         CASE WHEN nce IS NULL THEN NULL
              ELSE {hav_next} / GREATEST(nce - ce, 1e-9) END
           > {DEFAULT.max_speed_ms} AS fnext
  FROM g{i}a
),
g{i}c AS (
  SELECT *, lead(fnext) OVER w AS fnext2, lag(fprev) OVER w AS fprev2
  FROM g{i}b
  WINDOW w AS (PARTITION BY host ORDER BY ce, url)
),
g{i} AS (
  SELECT host, url, ce, lat, lon{carry} FROM g{i}c
  WHERE NOT COALESCE(
    CASE WHEN cnt < 2 THEN FALSE
         WHEN cnt = 2 THEN (rn = 2 AND fprev)
         WHEN rn = 1 THEN fnext AND NOT (fnext AND fnext2)
         WHEN rn = cnt THEN fprev AND NOT (fprev2 AND fprev)
         ELSE fprev AND fnext
    END, FALSE)
)""")
        prev = f"g{i}"
    return ",\n".join(parts)


_W5_ROUNDS = 4


def _w5_chain_sql(n_rounds: int = _W5_ROUNDS, src: str = "r0") -> str:
    """W5 short-dwell demotion as chained demote+merge SQL rounds over the
    run table (engine episodes._subset_runs).  Each round: demote activity
    runs shorter than min_dwell (integer-microsecond compare, same as the
    kernel), re-merge adjacent equal labels (NULL==NULL via IS DISTINCT
    FROM), recompute ends through the contiguity invariant (runs partition
    the subset span, so MAX(eu) of a merged group == the next group's
    start and the last group's MAX(eu) == the subset's last timestamp —
    exactly the kernel's ends[k] = starts[k+1] / last_ts rule).

    Round bound: merging only fuses EQUAL labels and travel (NULL) runs
    are never demoted, so an activity run's span never changes across
    rounds — every demotion the kernel will ever make happens in round 1
    and the fixpoint lands in <= 2 rounds; chaining 4 reproduces the
    kernel's unbounded loop exactly (extra rounds are no-ops)."""
    dw = int(DEFAULT.min_dwell_s * 1e6)
    parts = []
    prev = src
    for i in range(1, n_rounds + 1):
        parts.append(f"""d{i} AS (
  SELECT host, subset_id, gid, su, eu,
         CASE WHEN lab IS NOT NULL AND eu - su < {dw} THEN NULL
              ELSE lab END AS lab
  FROM {prev}
),
m{i} AS (
  SELECT *, SUM(nf) OVER (PARTITION BY host, subset_id ORDER BY gid
                          ROWS UNBOUNDED PRECEDING) - 1 AS g2
  FROM (SELECT *, CASE WHEN row_number() OVER w = 1
                            OR lab IS DISTINCT FROM lag(lab) OVER w
                       THEN 1 ELSE 0 END AS nf
        FROM d{i}
        WINDOW w AS (PARTITION BY host, subset_id ORDER BY gid))
),
r{i} AS (
  SELECT host, subset_id, g2 AS gid, MIN(su) AS su, MAX(eu) AS eu,
         MIN(lab) AS lab
  FROM m{i} GROUP BY host, subset_id, g2
)""")
        prev = f"r{i}"
    return ",\n".join(parts)


_PLANTED_LOCS_CTE = """locs AS (
  SELECT printf('host%04d.example', CAST(user_id % 10000 AS INT)) AS host,
         s.location_id,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 17)
          % 120000001) / 1e6 - 60.0 AS lat,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 9176)
          % 350000001) / 1e6 - 175.0 AS lon
  FROM (SELECT DISTINCT user_id FROM events)
  CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS location_id) s
)"""


def _knn_eps_cte(locs: str = "locs") -> str:
    """kNN + episode-kernel replay CTEs (appended after _prep_chain_sql
    and a location table named `locs`): brute-force kNN against `locs`
    (oracle twin of the cell-index join; ties by (distance, location_id)
    match the engine's min(struct)) -> W3 run-compress per (host, subset)
    -> W5 chain -> unknown-gap emission + global seq with the engine's
    exact (start, end, ridx) ordering (gap rows carry ridx=2^31-1).  Ends
    at `eps(host, seq, su, eu, kind, location_id)`, su/eu in
    microseconds."""
    hav = _hav_sql("p.lat", "p.lon", "l.lat", "l.lon")
    body = f"""kcand AS (
  SELECT p.url, l.location_id, {hav} AS d
  FROM sess p JOIN {locs} l USING (host)
),
kbest AS (
  SELECT url, location_id FROM (
    SELECT url, location_id,
           row_number() OVER (PARTITION BY url ORDER BY d, location_id) AS rk
    FROM kcand WHERE d <= {DEFAULT.cluster_distance_m}
  ) WHERE rk = 1
),
asg AS (
  SELECT s.host, s.subset_id, s.ceu, s.url, b.location_id
  FROM sess s LEFT JOIN kbest b USING (url)
),
runs0 AS (
  SELECT *, SUM(nf) OVER (PARTITION BY host, subset_id ORDER BY ceu, url
                          ROWS UNBOUNDED PRECEDING) - 1 AS gid
  FROM (SELECT *, CASE WHEN row_number() OVER w = 1
                            OR location_id IS DISTINCT FROM
                               lag(location_id) OVER w
                       THEN 1 ELSE 0 END AS nf
        FROM asg
        WINDOW w AS (PARTITION BY host, subset_id ORDER BY ceu, url))
),
rg AS (
  SELECT host, subset_id, gid, MIN(ceu) AS su, MAX(ceu) AS mu,
         MIN(location_id) AS lab
  FROM runs0 GROUP BY host, subset_id, gid
),
r0 AS (
  SELECT host, subset_id, gid, su,
         COALESCE(lead(su) OVER (PARTITION BY host, subset_id ORDER BY gid),
                  mu) AS eu,
         lab
  FROM rg
),
{_w5_chain_sql()},
fin AS MATERIALIZED (
  SELECT host, subset_id, su, eu, lab,
         CAST(row_number() OVER (PARTITION BY host, subset_id ORDER BY gid)
              - 1 AS BIGINT) AS ridx
  FROM r{_W5_ROUNDS}
),
orde AS (
  SELECT host, su, eu, lab, ridx,
         lag(eu) OVER (PARTITION BY host ORDER BY su, eu, ridx) AS pu
  FROM fin
),
eps AS (
  SELECT host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY su, eu, ridx)
              - 1 AS BIGINT) AS seq,
         su, eu, kind, location_id
  FROM (
    SELECT host, su, eu,
           CASE WHEN lab IS NULL THEN 'travel' ELSE 'activity' END AS kind,
           CAST(lab AS BIGINT) AS location_id, ridx
    FROM orde
    UNION ALL
    SELECT host, pu AS su, su AS eu, 'unknown' AS kind,
           CAST(NULL AS BIGINT) AS location_id, CAST(2147483647 AS BIGINT) AS ridx
    FROM orde WHERE pu IS NOT NULL AND su > pu
  )
)"""


    return body


def _w5_episodes_cte() -> str:
    """Full SQL replay of the production episode path over the planted
    arithmetic location table (see _prep_chain_sql + _knn_eps_cte)."""
    return (_prep_chain_sql() + ",\n" + _PLANTED_LOCS_CTE + ",\n"
            + _knn_eps_cte())


def _pii_oracle_sql() -> str:
    """Exact DuckDB replay of q_pii_redact: the planted-PII construction,
    then the engine's redaction chain (patterns imported from
    engine.text._PII_PATTERNS — one source of truth) with per-stage
    counts BEFORE each stage's replace, exactly as redact_pii orders it."""
    from engine.text import _PII_PATTERNS
    planted = """
  SELECT doc_id, text || CASE doc_id % 4
    WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
                || CAST(doc_id % 7 AS VARCHAR) || '.example now'
    WHEN 1 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                || CAST(doc_id % 100 AS VARCHAR) || ' logged'
    WHEN 2 THEN ' call +1 ' || CAST(doc_id % 900 + 100 AS VARCHAR) || ' '
                || CAST((doc_id * 3) % 900 + 100 AS VARCHAR) || ' '
                || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' soon'
    ELSE '' END AS t0
  FROM documents"""
    ctes = [f"p0 AS ({planted})"]
    counts = []
    cur = "t0"
    for i, (name, pat) in enumerate(_PII_PATTERNS):
        nxt = f"t{i + 1}"
        ctes.append(
            f"p{i + 1} AS (SELECT doc_id, "
            f"len(regexp_extract_all({cur}, '{pat}')) AS n_{name}, "
            f"regexp_replace({cur}, '{pat}', '[{name.upper()}]', 'g') "
            f"AS {nxt}, * EXCLUDE (doc_id, {cur}) FROM p{i})")
        counts.append(f"CAST(n_{name} AS BIGINT) AS n_{name}")
        cur = nxt
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT doc_id, {', '.join(counts)}, {cur} AS text_redacted "
            f"FROM p{len(_PII_PATTERNS)}")


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    """Exact DuckDB replay of q_simhash_near_pairs (md5_60 mode): per-token
    60-bit md5 hashes, the 60 per-bit popcount votes (bit b set iff
    2*popcount > n_tokens — generated as 60 SUM expressions), the
    pigeonhole band bucket join (band bounds shared with the engine via
    engine.text._simhash_band_bounds), and the xor-popcount verify."""
    from engine.text import _simhash_band_bounds
    bands = max_hamming + 1
    bit_terms = "\n       + ".join(
        f"(CASE WHEN 2 * SUM((h >> {b}) & 1) > COUNT(*) "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(60))
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS bi, "
        f"(simhash >> {lo}) & {(1 << w) - 1} AS k FROM sh0"
        for i, (lo, w) in enumerate(_simhash_band_bounds(bands)))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),
         '\\W+'), x -> x <> '')) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
sh AS (
  SELECT doc_id,
       {bit_terms} AS simhash
  FROM th GROUP BY doc_id
),
sh0 AS (
  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
  FROM documents d LEFT JOIN sh s USING (doc_id)
),
bandrows AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         l.simhash AS ha, r.simhash AS hb
  FROM bandrows l JOIN bandrows r
    ON l.bi = r.bi AND l.k = r.k AND l.doc_id < r.doc_id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""


def _pagerank_chain_sql(iters: int = _PR_ITERS) -> str:
    """Chained-CTE replay of engine.graph.pagerank over the derived host
    graph: one CTE per power-iteration round, integer floor-division
    transfers (DuckDB `//` == Spark `DIV` on non-negative int64), dangling
    mass dropped — bit-identical to the engine by construction."""
    from engine.graph import DAMP_DEN, DAMP_NUM, RANK_SCALE
    base_q = (DAMP_DEN - DAMP_NUM) * RANK_SCALE // DAMP_DEN
    parts = [f"""e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
           (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES} AS dst
    FROM documents
  ) WHERE src != dst
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
l AS MATERIALIZED (
  SELECT e.src, e.dst, od.odeg
  FROM e JOIN (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src) od
  USING (src)
),
r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank_q FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({base_q} + COALESCE(c.in_q, 0) AS BIGINT) AS rank_q
  FROM nodes n LEFT JOIN (
    SELECT l.dst AS node,
           SUM(({DAMP_NUM} * r.rank_q) // ({DAMP_DEN} * l.odeg)) AS in_q
    FROM l JOIN r{i - 1} r ON l.src = r.node GROUP BY l.dst
  ) c USING (node)
)""")
    return ",\n".join(parts)


def _bpe_rep_sql(expr: str, alias: str) -> str:
    """ONE literal replace of ' l  r ' -> ' lr ' (the engine's
    _merge_expr in SQL; engine/tokenizer.py explains why the double-space
    delimiting makes a single pass the exhaustive single-scan merge)."""
    return (f"replace({expr}, ' ' || replace({alias}.pair, ' ', '  ') "
            f"|| ' ', ' ' || replace({alias}.pair, ' ', '') || ' ')")


def _bpe_chain_sql(rounds: int = _BPE_ROUNDS) -> str:
    """engine.tokenizer.bpe_train unrolled as chained SQL: word counts
    ONCE, then per round a pair-count CTE, a 1-row argmax CTE
    (count DESC, pair ASC), and a MATERIALIZED vocab rewrite via the same
    left-to-right non-overlapping replace the engine runs.  Value-exact
    by the contract in engine/tokenizer.py (int64 pair sums, UTF-8
    tie-break, literal-replace parity)."""
    from engine.tokenizer import EOW
    parts = [rf"""wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
               '\W+'), t -> t != '')) AS word FROM documents)
  GROUP BY word
),
s0 AS (
  SELECT word, cnt,
         '  ' || regexp_replace(word, '(.)', '\1  ', 'g') || '{EOW}  ' AS seq
  FROM wf
)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""p{i} AS (
  SELECT a[i] || ' ' || a[i + 1] AS pair, sum(cnt) AS c
  FROM (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS i
        FROM (SELECT cnt, string_split(trim(seq), '  ') AS a FROM s{i - 1}))
  GROUP BY 1
),
b{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1),
s{i} AS MATERIALIZED (
  SELECT word, cnt, {_bpe_rep_sql('seq', 'b')} AS seq
  FROM s{i - 1} CROSS JOIN b{i} b
)""")
    return ",\n".join(parts)


def _bpe_train_sql(rounds: int = _BPE_ROUNDS) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS round, "
        f"split_part(pair, ' ', 1) AS lhs, "
        f"split_part(pair, ' ', 2) AS rhs, "
        f"replace(pair, ' ', '') AS merged, "
        f"CAST(c AS BIGINT) AS cnt FROM b{i}"
        for i in range(1, rounds + 1))
    return f"WITH\n{_bpe_chain_sql(rounds)}\n{rows}"


def _bpe_encode_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Training chain + per-word encode: words with ordinality, the same
    symbol-split, then all `rounds` merges applied through 1-row CROSS
    JOINs in learned order."""
    from engine.tokenizer import EOW
    expr = f"'  ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '{EOW}  '"
    joins = ""
    for i in range(1, rounds + 1):
        expr = _bpe_rep_sql(expr, f"m{i}")
        joins += f" CROSS JOIN b{i} m{i}"
    return rf"""WITH
{_bpe_chain_sql(rounds)},
dw AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS wpos, w[i] AS word
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                     '\W+'), t -> t != '') AS w FROM documents))
),
es AS (
  SELECT doc_id, wpos, {expr} AS seq
  FROM dw{joins}
)
SELECT doc_id, wpos, CAST(j - 1 AS INT) AS tpos, t[j] AS token
FROM (SELECT doc_id, wpos, t, unnest(generate_series(1, len(t))) AS j
      FROM (SELECT doc_id, wpos, string_split(trim(seq), '  ') AS t
            FROM es))"""


def _kmeans_chain_sql(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS,
                      scale: float = 1024.0) -> str:
    """Lloyd k-means unrolled as chained SQL rounds (assign a{i} under
    centroids c{i}; means m{i+1} -> c{i+1} with empty clusters keeping
    the previous centroid).  Exactness contract: engine/clustering.py —
    quantized integer-valued doubles make every sum order-independent,
    and both engines fold dot products strictly left-to-right
    (Spark F.aggregate == DuckDB list_reduce)."""
    dotxc = ("list_reduce(list_transform(list_zip(v.e, c.e), "
             "s -> s[1] * s[2]), (a, b) -> a + b)")
    parts = [f"""q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {scale!r} + 0.5)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, e
  FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT {k})
)"""]
    for i in range(iters):
        parts.append(f"""cc{i} AS (
  SELECT cl, e,
         list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b) AS cc
  FROM c{i}
),
a{i} AS (
  SELECT vec_id, e, cl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY c.cc - 2.0 * {dotxc} ASC, c.cl ASC) AS rk
    FROM q v CROSS JOIN cc{i} c)
  WHERE rk = 1
)""")
        if i < iters - 1:
            parts.append(f"""m{i + 1} AS (
  SELECT cl, dim, sum(x) / count(*) AS v
  FROM (SELECT cl, generate_subscripts(e, 1) AS dim, unnest(e) AS x
        FROM a{i})
  GROUP BY cl, dim
),
c{i + 1} AS (
  SELECT p.cl, CASE WHEN mm.e IS NULL THEN p.e ELSE mm.e END AS e
  FROM c{i} p LEFT JOIN
       (SELECT cl, list(v ORDER BY dim) AS e FROM m{i + 1} GROUP BY cl) mm
       USING (cl)
)""")
    return ",\n".join(parts)


def _classifier_chain_sql(dims: int = _QC_DIMS, rounds: int = _QC_ROUNDS,
                          marker: str = _QC_MARKER) -> str:
    """engine.classifier.train_quality_classifier (quant mode, binary
    presence features) + apply_classifier unrolled as chained SQL: one
    margin/residual/gradient/weight CTE quartet per GD round.
    Bit-identical by the integer micro-weight contract
    (engine/classifier.py docstring): margins and per-slot gradients are
    exact int64 sums (order-free), the link is the rational fast sigmoid
    (+,*,/,abs only — no libm exp), and each weight update is one exact
    integer product, one correctly-rounded IEEE division, one floor —
    identical in Python (Spark driver) and DuckDB.  SUMs are cast to
    BIGINT (DuckDB widens BIGINT sums to HUGEINT; values stay < 2^53 by
    the envelope check in train_quality_classifier)."""
    from engine.classifier import LR_NUM, RESID_SCALE, WEIGHT_SCALE

    def sig(mm):
        m = f"(CAST({mm} AS DOUBLE) / {float(WEIGHT_SCALE)!r})"
        return f"(0.5 + 0.5 * {m} / (1.0 + abs({m})))"

    S = float(RESID_SCALE)
    toks = ("list_filter(regexp_split_to_array(lower(text), '\\W+'), "
            "x -> x <> '')")
    parts = [f"""toks AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
lab AS (
  SELECT doc_id,
         CASE WHEN list_contains({toks}, '{marker}')
              THEN 1 ELSE 0 END AS y
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {dims} AS f,
         CAST(1 AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {dims} AS f, CAST(1 AS BIGINT) AS c FROM documents
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
w0 AS (SELECT CAST(f AS BIGINT) AS f, CAST(0 AS BIGINT) AS wq
       FROM generate_series(0, {dims}) t(f))"""]
    for r in range(1, rounds + 1):
        parts.append(f"""m{r} AS (
  SELECT fe.doc_id, CAST(SUM(w.wq * fe.c) AS BIGINT) AS mm
  FROM feats fe JOIN w{r - 1} w USING (f) GROUP BY fe.doc_id
),
r{r} AS (
  SELECT m.doc_id,
         CAST(floor(({sig('m.mm')} - l.y) * {S!r} + 0.5) AS BIGINT) AS res
  FROM m{r} m JOIN lab l USING (doc_id)
),
g{r} AS (
  SELECT fe.f, CAST(SUM(r.res * fe.c) AS BIGINT) AS grad
  FROM feats fe JOIN r{r} r USING (doc_id) GROUP BY fe.f
),
w{r} AS (
  SELECT w.f,
         w.wq - CAST(floor({LR_NUM} * COALESCE(g.grad, 0)
                           / ({S!r} * nn.n) + 0.5) AS BIGINT) AS wq
  FROM w{r - 1} w LEFT JOIN g{r} g USING (f), nn
)""")
    parts.append(f"""mfin AS (
  SELECT fe.doc_id, CAST(SUM(w.wq * fe.c) AS BIGINT) AS mm
  FROM feats fe JOIN w{rounds} w USING (f) GROUP BY fe.doc_id
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT l.doc_id, CAST(l.y AS INT) AS y, m.mm AS margin_micro,
       {sig('m.mm')} AS prob,
       CAST(CASE WHEN {sig('m.mm')} >= 0.5 THEN 1 ELSE 0 END AS INT) AS pred
FROM mfin m JOIN lab l USING (doc_id)""")


def _pq_chain_sql(m: int = _PQ_M, k: int = _PQ_CODES, iters: int = _PQ_ITERS,
                  topk: int = _PQ_K, dim: int = _PQ_DIM,
                  qmod: int = _PQ_QMOD, scale: float = 1024.0) -> str:
    """engine.similarity.pq_adc_topk unrolled as SQL: m independent
    subspace Lloyd chains (each the _kmeans_chain_sql pattern over a
    vector SLICE, same init rule — subspace s of the j-th lowest-id
    vector), codes joined per vec_id, per-query LUT terms
    cc - 2*dot(q_s, c) from the FINAL-round centroids, and the ADC score
    accumulated in subspace order (((t0+t1)+t2)+...) exactly as the Arrow
    kernel's += loop does."""
    sub = dim // m
    dotxc = ("list_reduce(list_transform(list_zip(v.e, c.e), "
             "s -> s[1] * s[2]), (a, b) -> a + b)")
    last = iters - 1
    parts = [f"""q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {scale!r} + 0.5)) AS e
  FROM embeddings
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, e
  FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT {k})
)"""]
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        parts.append(f"""qs{s} AS (
  SELECT vec_id, e[{lo}:{hi}] AS e FROM q
),
s{s}c0 AS (
  SELECT j AS cl, e[{lo}:{hi}] AS e FROM init
)""")
        for i in range(iters):
            parts.append(f"""s{s}cc{i} AS (
  SELECT cl, e,
         list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b) AS cc
  FROM s{s}c{i}
),
s{s}a{i} AS (
  SELECT vec_id, e, cl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY c.cc - 2.0 * {dotxc} ASC, c.cl ASC) AS rk
    FROM qs{s} v CROSS JOIN s{s}cc{i} c)
  WHERE rk = 1
)""")
            if i < iters - 1:
                parts.append(f"""s{s}m{i + 1} AS (
  SELECT cl, dim, sum(x) / count(*) AS v
  FROM (SELECT cl, generate_subscripts(e, 1) AS dim, unnest(e) AS x
        FROM s{s}a{i})
  GROUP BY cl, dim
),
s{s}c{i + 1} AS (
  SELECT p.cl, CASE WHEN mm.e IS NULL THEN p.e ELSE mm.e END AS e
  FROM s{s}c{i} p LEFT JOIN
       (SELECT cl, list(v ORDER BY dim) AS e FROM s{s}m{i + 1} GROUP BY cl)
       mm USING (cl)
)""")
        parts.append(f"""ct{s} AS (
  SELECT v.vec_id AS qid, c.cl, c.cc - 2.0 * {dotxc} AS v
  FROM (SELECT vec_id, e FROM qs{s} WHERE vec_id % {qmod} = 0) v
  CROSS JOIN s{s}cc{last} c
)""")
    code_joins = " ".join(
        f"JOIN s{s}a{last} a{s} ON a0.vec_id = a{s}.vec_id"
        for s in range(1, m))
    code_cols = ", ".join(f"a{s}.cl AS c{s}" for s in range(m))
    parts.append(f"""codes AS (
  SELECT a0.vec_id, {code_cols} FROM s0a{last} a0 {code_joins}
)""")
    lut_joins = " ".join(
        f"JOIN ct{s} t{s} ON cd.c{s} = t{s}.cl AND t{s}.qid = t0.qid"
        for s in range(1, m))
    acc = "t0.v"
    for s in range(1, m):
        acc = f"({acc} + t{s}.v)"
    parts.append(f"""sc AS (
  SELECT t0.qid AS a, cd.vec_id AS b, {acc} AS adc
  FROM codes cd JOIN ct0 t0 ON cd.c0 = t0.cl {lut_joins}
  WHERE cd.vec_id <> t0.qid
)""")
    return ",\n".join(parts) + f"""
SELECT a, b, CAST(rk AS BIGINT) AS rk, adc FROM (
  SELECT a, b, adc,
         row_number() OVER (PARTITION BY a ORDER BY adc ASC, b ASC) AS rk
  FROM sc)
WHERE rk <= {topk}
"""


def _ivfpq_chain_sql(n_cells: int = _IVFPQ_CELLS, ic: int = _IVFPQ_IC,
                     m: int = _IVFPQ_M, n_codes: int = _IVFPQ_CODES,
                     ip: int = _IVFPQ_IP, topk: int = _PQ_K,
                     dim: int = _PQ_DIM, qmod: int = _PQ_QMOD,
                     scale: float = 1024.0) -> str:
    """engine.similarity.ivfpq_topk (exhaustive mode) unrolled as SQL:
    the coarse Lloyd chain on full vectors, centroids rounded to the
    quant grid, integer residuals, m residual-PQ Lloyd chains, the code
    join, per-(query, cell) LUT terms from the final-round tables, and
    the subspace-ordered ADC accumulation — every float op in the same
    order as the engine (left-to-right folds, (((t0+t1)+t2)+t3)."""
    sub = dim // m
    dotxc = ("list_reduce(list_transform(list_zip(v.e, c.e), "
             "s -> s[1] * s[2]), (a, b) -> a + b)")
    lc, lp = ic - 1, ip - 1

    def lloyd(src: str, pre: str, k: int, iters: int, init_cte: str) -> list:
        out = [init_cte]
        for i in range(iters):
            out.append(f"""{pre}cc{i} AS (
  SELECT cl, e,
         list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b) AS cc
  FROM {pre}c{i}
),
{pre}a{i} AS (
  SELECT vec_id, e, cl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY c.cc - 2.0 * {dotxc} ASC, c.cl ASC) AS rk
    FROM {src} v CROSS JOIN {pre}cc{i} c)
  WHERE rk = 1
)""")
            if i < iters - 1:
                out.append(f"""{pre}m{i + 1} AS (
  SELECT cl, dim, sum(x) / count(*) AS v
  FROM (SELECT cl, generate_subscripts(e, 1) AS dim, unnest(e) AS x
        FROM {pre}a{i})
  GROUP BY cl, dim
),
{pre}c{i + 1} AS (
  SELECT p.cl, CASE WHEN mm.e IS NULL THEN p.e ELSE mm.e END AS e
  FROM {pre}c{i} p LEFT JOIN
       (SELECT cl, list(v ORDER BY dim) AS e FROM {pre}m{i + 1} GROUP BY cl)
       mm USING (cl)
)""")
        return out

    parts = [f"""q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {scale!r} + 0.5)) AS e
  FROM embeddings
)"""]
    parts += lloyd("q", "g", n_cells, ic, f"""gc0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, e
  FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT {n_cells})
)""")
    parts.append(f"""gint AS (
  SELECT cl, list_transform(e, x -> floor(x + 0.5)) AS e FROM gc{lc}
),
resid AS (
  SELECT a.vec_id, a.cl AS cell,
         list_transform(list_zip(a.e, gi.e), s -> s[1] - s[2]) AS e
  FROM ga{lc} a JOIN gint gi ON a.cl = gi.cl
),
pinit AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, e
  FROM (SELECT vec_id, e FROM resid ORDER BY vec_id LIMIT {n_codes})
)""")
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        parts.append(f"""rs{s} AS (
  SELECT vec_id, e[{lo}:{hi}] AS e FROM resid
)""")
        parts += lloyd(f"rs{s}", f"s{s}", n_codes, ip, f"""s{s}c0 AS (
  SELECT j AS cl, e[{lo}:{hi}] AS e FROM pinit
)""")
        parts.append(f"""ct{s} AS (
  SELECT v.qid, v.cell, c.cl,
         (list_reduce(list_transform(v.e, x -> x * x), (a, b) -> a + b)
          + c.cc) - 2.0 * {dotxc} AS v
  FROM (SELECT qq.vec_id AS qid, gi.cl AS cell,
               list_transform(list_zip(qq.e, gi.e),
                              s -> s[1] - s[2])[{lo}:{hi}] AS e
        FROM (SELECT vec_id, e FROM q WHERE vec_id % {qmod} = 0) qq
        CROSS JOIN gint gi) v
  CROSS JOIN s{s}cc{lp} c
)""")
    code_joins = " ".join(
        f"JOIN s{s}a{lp} a{s} ON a0.vec_id = a{s}.vec_id"
        for s in range(1, m))
    code_cols = ", ".join(f"a{s}.cl AS c{s}" for s in range(m))
    parts.append(f"""codes AS (
  SELECT a0.vec_id, r.cell, {code_cols}
  FROM s0a{lp} a0 {code_joins} JOIN resid r ON r.vec_id = a0.vec_id
)""")
    lut_joins = " ".join(
        f"JOIN ct{s} t{s} ON cd.c{s} = t{s}.cl AND t{s}.qid = t0.qid "
        f"AND t{s}.cell = cd.cell"
        for s in range(1, m))
    acc = "t0.v"
    for s in range(1, m):
        acc = f"({acc} + t{s}.v)"
    parts.append(f"""sc AS (
  SELECT t0.qid AS a, cd.vec_id AS b, {acc} AS adc
  FROM codes cd
  JOIN ct0 t0 ON cd.c0 = t0.cl AND t0.cell = cd.cell {lut_joins}
  WHERE cd.vec_id <> t0.qid
)""")
    return ",\n".join(parts) + f"""
SELECT a, b, CAST(rk AS BIGINT) AS rk, adc FROM (
  SELECT a, b, adc,
         row_number() OVER (PARTITION BY a ORDER BY adc ASC, b ASC) AS rk
  FROM sc)
WHERE rk <= {topk}
"""


def _cell_encode_sql(level: int, src: str = "sites",
                     lat: str = "site_lat", lon: str = "site_lon") -> str:
    """X6 cell encode as DuckDB CTE text: {src}(..., site_lat, site_lon)
    -> enc(..., cell_id), replaying engine.functions.encode_cell_native
    term for term — identical float op order through lat/lon -> unit XYZ
    -> cube face -> quadratic ST -> (i, j), then the 4-bit Hilbert FSM as
    level/4 chained lookup rounds against the same 1024-entry table
    (engine/functions.py _hilbert_nibble_table), on exact integers.  The
    float prefix is trig/sqrt/divide only; verified bit-identical between
    the JVM and DuckDB on every interpolated site in the corpus (zero
    mismatches over 1.12M sites at sf0.001 + sf0.01).  Faces 4/5 set bit
    63, so the pack maps face -> face-8 and multiplies by 2^61 instead of
    left-shifting (DuckDB << overflows); bit-identical to the engine's
    signed int64 reinterpretation."""
    from engine.functions import _hilbert_nibble_table
    n = 1 << level
    rounds = (level + 3) // 4
    assert 4 * rounds == level, "pad path not replayed; level must be 4k"
    tab = "[" + ", ".join(str(int(t)) for t in _hilbert_nibble_table()) + "]"
    parts = [f"""tab AS (SELECT {tab} AS t),
enc0 AS (
  SELECT *,
    CASE WHEN fmod({lon} + 180.0, 360.0) < 0
         THEN fmod({lon} + 180.0, 360.0) + 360.0 - 180.0
         ELSE fmod({lon} + 180.0, 360.0) - 180.0 END AS lon_n
  FROM {src}
),
enc1 AS (
  SELECT *, cos(radians({lat})) * cos(radians(lon_n)) AS ex,
            cos(radians({lat})) * sin(radians(lon_n)) AS ey,
            sin(radians({lat})) AS ez
  FROM enc0
),
enc2 AS (
  SELECT *,
    CASE WHEN abs(ex) >= abs(ey)
         THEN CASE WHEN abs(ex) >= abs(ez) THEN 0 ELSE 2 END
         ELSE CASE WHEN abs(ey) >= abs(ez) THEN 1 ELSE 2 END END AS face0
  FROM enc1
),
enc3 AS (
  SELECT *,
    CASE WHEN (CASE WHEN face0 = 0 THEN ex WHEN face0 = 1 THEN ey
                    ELSE ez END) < 0
         THEN face0 + 3 ELSE face0 END AS face
  FROM enc2
),
enc4 AS (
  SELECT *,
    CASE WHEN face = 0 THEN ey / ex WHEN face = 1 THEN -ex / ey
         WHEN face = 2 THEN -ex / ez WHEN face = 3 THEN ez / ex
         WHEN face = 4 THEN ez / ey ELSE -ey / ez END AS fu,
    CASE WHEN face = 0 THEN ez / ex WHEN face = 1 THEN ez / ey
         WHEN face = 2 THEN -ey / ez WHEN face = 3 THEN ey / ex
         WHEN face = 4 THEN -ex / ey ELSE -ex / ez END AS fv
  FROM enc3
),
enc5 AS (
  SELECT *,
    GREATEST(0, LEAST({n - 1}, CAST(TRUNC(
      (CASE WHEN fu >= 0.0 THEN 0.5 * sqrt(1.0 + 3.0 * fu)
            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * fu) END)
      * {float(n)!r}) AS BIGINT))) AS hx,
    GREATEST(0, LEAST({n - 1}, CAST(TRUNC(
      (CASE WHEN fv >= 0.0 THEN 0.5 * sqrt(1.0 + 3.0 * fv)
            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * fv) END)
      * {float(n)!r}) AS BIGINT))) AS hy
  FROM enc4
)"""]
    prev, d, s = "enc5", "CAST(0 AS BIGINT)", "0"
    step = 5
    for r in range(rounds - 1, -1, -1):
        step += 1
        parts.append(f""",
enc{step} AS (
  SELECT {prev}.*,
         tab.t[CAST(({s}) * 256 + (({prev}.hx >> {4 * r}) & 15) * 16
               + (({prev}.hy >> {4 * r}) & 15) + 1 AS INT)] AS hv{step}
  FROM {prev}, tab
)""")
        d = f"(({d}) << 8) | (hv{step} >> 2)"
        s = f"(hv{step} & 3)"
        prev = f"enc{step}"
    shift = 2 * (30 - level)
    parts.append(f""",
enc AS (
  SELECT *,
    (CASE WHEN face >= 4 THEN face - 8 ELSE face END) * 2305843009213693952
    + ((({d}) << {shift + 1}) | {1 << shift}) AS cell_id
  FROM {prev}
)""")
    return "".join(parts)


# geo_locations_quant runs A3 at a lower dwell threshold than the
# production DEFAULT (600 s): the sf0.01 driver corpus has exactly one
# >=600 s location, which exercises A4/A5 on a single cluster — 120 s
# yields a multi-host multi-cluster result.  ONE constant feeds both the
# Spark cfg and the oracle SQL.
_QUANT_THR_S = 120.0

# fixed input of the sf0.1 float-parity row (the row pins margins at a
# DIFFERENT scale factor than the driver's sweep, so it ignores sf_dir);
# the oracle reads the same parquet by absolute path.
_SF01_DIR = "/root/testdata/sf0.1"

# stream_* watermark: the 30x-compressed driver corpus spans ~24 h, so
# the production 48 h default closes nothing; 4 h closes most
# subsets/windows/sessions while still exercising append-mode
# withholding.  ONE constant feeds every streaming query and the
# oracles' watermark arithmetic.
_STREAM_WM = "4 hours"
_STREAM_WM_MS = 4 * 3600 * 1000

# stream_cell_density tumbling window; _DENSITY_WIN_US is the oracle's
# bucket arithmetic twin (Spark window start = floor(ts_us/win)*win).
_DENSITY_WIN = "10 minutes"
_DENSITY_WIN_US = 10 * 60 * 1_000_000

# stream_sessionize gap in us: stream_sessionize passes the gap to
# F.session_window as int(cfg.gap_s) whole seconds — mirror that exactly.
_SESS_GAP_US = int(DEFAULT.gap_s) * 1_000_000


def _prep_chain_sql() -> str:
    """Shared prep-replay CTE chain (pts -> F3 -> G1 chain -> W2
    sessionization), ending at sess(host, url, ce, ceu, lat, lon,
    subset_id).  ceu is the integer-microsecond timestamp so downstream
    duration compares can be exact.  Each stage replays the corresponding
    engine kernel with identical float op order (proven by the
    geo_sessions oracle)."""
    return f"""pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         (CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000) / 1000000.0 AS ce,
         CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000 AS ceu,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
g0 AS (
  SELECT host, url, ce, ceu, lat, lon FROM (
    SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
    FROM pts
    WINDOW w AS (PARTITION BY host ORDER BY ce, url)
  ) WHERE plat IS NULL OR NOT (lat = plat AND lon = plon)
),
{_g1_chain_sql(carry=", ceu")},
sess AS (
  SELECT *, SUM(nf) OVER (PARTITION BY host ORDER BY ce, url
                          ROWS UNBOUNDED PRECEDING) - 1 AS subset_id
  FROM (SELECT *, CASE WHEN pce IS NULL OR ce - pce > {DEFAULT.gap_s}
                       THEN 1 ELSE 0 END AS nf
        FROM (SELECT *, lag(ce) OVER w AS pce FROM g{trace_prep.G1_ROUNDS}
              WINDOW w AS (PARTITION BY host ORDER BY ce, url)))
)"""


def _sites_from_sess_sql(carry_ts: bool = False) -> str:
    """X3 interpolation over the sess chain: sites(host, site_lat,
    site_lon, mq) with integer-ms site mass (the quantization shared by
    the tiles_pyramid and geo_locations_quant oracles).  With
    `carry_ts`, each site also carries `ceu` — its segment's START
    timestamp in integer us, matching interpolate_sites(carry_cols=
    ("warc_ts",)) — for the streaming raster's window bucketing."""
    ts = "ceu, " if carry_ts else ""
    return f"""nxt AS (
  SELECT host, subset_id, {ts}lat, lon,
         lead(lat) OVER w AS nlat, lead(lon) OVER w AS nlon,
         lead(ce) OVER w - ce AS dt
  FROM sess
  WINDOW w AS (PARTITION BY host, subset_id ORDER BY ce, url)
),
seg AS (
  SELECT host, {ts}lat, lon, nlat, nlon, dt,
         GREATEST(1, CAST(CEIL({_hav_sql("lat", "lon", "nlat", "nlon")}
                               / {DEFAULT.interpolation_step_m}) AS BIGINT))
           AS n
  FROM nxt WHERE dt IS NOT NULL
),
expanded AS (
  SELECT host, {ts}lat, lon, nlat, nlon, dt, n, UNNEST(range(n)) AS k FROM seg
),
sites AS (
  SELECT host, {ts}
         lat + ((k + 0.5) / n) * (nlat - lat) AS site_lat,
         lon + ((k + 0.5) / n) * (nlon - lon) AS site_lon,
         CAST(FLOOR((dt / n) * 1000.0) AS BIGINT) AS mq
  FROM expanded
)"""


def _prep_sites_sql() -> str:
    """prep chain + X3 sites — the shared prefix of the tiles_pyramid and
    geo_locations_quant oracles."""
    return _prep_chain_sql() + ",\n" + _sites_from_sess_sql()


def _kde_quant_cte() -> str:
    """CTE chain (appended after _prep_sites_sql) replaying the engine's
    bit-portable quant KDE mode (engine/locations.py _kde_from_grid_quant)
    — anchor-projected integer cell binning, the SAME quant_stencil
    integer weights as SQL literals, integer density sums + threshold, A4
    connected components as chained min-label + pointer-jump rounds
    (labels converge to the fixpoint; extra rounds are no-ops), and A5
    centroids from integer moment sums with the engine's exact float op
    order.  Ends at qlocs(host, location_id, lat, lon, dwell_s, n_cells).
    Multi-referenced CTEs are MATERIALIZED — inlining them re-evaluates
    the whole upstream prep chain once per reference (the jump rounds
    reference each table twice, so inlining is exponential in rounds)."""
    from engine.locations import quant_stencil, QUANT_MASS_SCALE
    di, dj, w, wsum = quant_stencil(DEFAULT)
    cell = DEFAULT.grid_cell_m
    thr_q = int(round(_QUANT_THR_S * QUANT_MASS_SCALE)) * wsum
    denom = float(QUANT_MASS_SCALE) * wsum
    adj2 = DEFAULT.cluster_distance_m ** 2
    di_l = "[" + ", ".join(str(int(v)) for v in di) + "]"
    dj_l = "[" + ", ".join(str(int(v)) for v in dj) + "]"
    w_l = "[" + ", ".join(str(int(v)) for v in w) + "]"
    n_rounds = 8
    rounds = []
    prev = "l0"
    for t in range(1, n_rounds + 1):
        rounds.append(f"""p{t} AS MATERIALIZED (
  SELECT e.host, e.ka AS k, MIN(l.lbl) AS lbl
  FROM edges e JOIN {prev} l ON l.host = e.host AND l.k = e.kb
  GROUP BY e.host, e.ka
),
l{t} AS MATERIALIZED (
  SELECT p.host, p.k, q.lbl
  FROM p{t} p JOIN p{t} q ON q.host = p.host AND q.k = p.lbl
)""")
        prev = f"l{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""anch AS MATERIALIZED (
  SELECT DISTINCT host,
         first_value(lat) OVER w AS alat,
         first_value(lon) OVER w AS alon
  FROM g{trace_prep.G1_ROUNDS}
  WINDOW w AS (PARTITION BY host ORDER BY ce, url)
),
stn AS (SELECT UNNEST({di_l}) AS di, UNNEST({dj_l}) AS dj,
               UNNEST({w_l}) AS w),
proj AS (
  SELECT s.host,
         6371008.8 * cos(radians(a.alat)) * radians(s.site_lon - a.alon) AS px,
         6371008.8 * radians(s.site_lat - a.alat) AS py,
         s.mq
  FROM sites s JOIN anch a USING (host)
),
cells AS (
  SELECT host,
         CAST(FLOOR(px / {cell!r}) AS BIGINT) AS ix,
         CAST(FLOOR(py / {cell!r}) AS BIGINT) AS iy,
         CAST(SUM(mq) AS BIGINT) AS m0
  FROM proj GROUP BY host, ix, iy
),
hot AS MATERIALIZED (
  SELECT host, ix, iy, dens, ix * 4294967296 + iy AS k FROM (
    SELECT c.host, c.ix + s.di AS ix, c.iy + s.dj AS iy,
           CAST(SUM(c.m0 * s.w) AS BIGINT) AS dens
    FROM cells c CROSS JOIN stn s
    GROUP BY c.host, c.ix + s.di, c.iy + s.dj
  ) WHERE dens >= {thr_q}
),
edges AS MATERIALIZED (
  SELECT a.host, a.k AS ka, b.k AS kb
  FROM hot a JOIN hot b
    ON a.host = b.host
   AND ((a.ix - b.ix) * (a.ix - b.ix)
        + (a.iy - b.iy) * (a.iy - b.iy)) * {cell * cell!r} <= {adj2!r}
),
l0 AS MATERIALIZED (SELECT host, k, k AS lbl FROM hot),
{rounds_sql},
memb AS (
  SELECT h.host, h.ix, h.iy, h.dens, l.lbl,
         MIN(h.ix) OVER (PARTITION BY h.host, l.lbl) AS ix0,
         MIN(h.iy) OVER (PARTITION BY h.host, l.lbl) AS iy0
  FROM hot h JOIN {prev} l ON l.host = h.host AND l.k = h.k
),
cent AS (
  SELECT host, lbl,
         CAST(SUM(dens) AS BIGINT) AS sd,
         ANY_VALUE(ix0) AS ix0, ANY_VALUE(iy0) AS iy0,
         CAST(SUM(dens * (ix - ix0)) AS BIGINT) AS sdx,
         CAST(SUM(dens * (iy - iy0)) AS BIGINT) AS sdy,
         COUNT(*) AS ncell
  FROM memb GROUP BY host, lbl
),
pos AS (
  SELECT host, sd, ncell,
         {cell!r} * ((ix0 + (sdx / sd)) + 0.5) AS mx,
         {cell!r} * ((iy0 + (sdy / sd)) + 0.5) AS my
  FROM cent
),
outp AS (
  SELECT p.host,
         a.alat + degrees(p.my / 6371008.8) AS lat,
         a.alon + degrees(p.mx / (6371008.8 * cos(radians(a.alat)))) AS lon,
         p.sd, p.ncell
  FROM pos p JOIN anch a USING (host)
),
qlocs AS MATERIALIZED (
  SELECT host,
         CAST(row_number() OVER (PARTITION BY host
                                 ORDER BY sd DESC, lon, lat) - 1 AS INTEGER)
           AS location_id,
         lat, lon,
         sd / {denom!r} AS dwell_s,
         CAST(ncell AS INTEGER) AS n_cells
  FROM outp
)"""


def _kde_quant_sql() -> str:
    """geo_locations_quant oracle: _kde_quant_cte over the prep+sites
    chain."""
    return f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()}
SELECT host, location_id, lat, lon, dwell_s, n_cells FROM qlocs
"""


def _pyramid_levels_sql(base: str = "base") -> str:
    """Per-level SELECTs over {base}(cell_id, mass_ms), mirroring
    tiles.rollup_pyramid: base level verbatim, coarser levels by the
    parent bit math of engine.functions.parent_cell_col."""
    from engine.functions import _signed64
    sels = []
    for lvl in DEFAULT.tile_levels:
        if lvl == DEFAULT.cell_level:
            sels.append(f"SELECT {lvl} AS level, cell_id, mass_ms FROM {base}")
        else:
            lsb = 1 << (2 * (30 - lvl))
            mask = _signed64(~(2 * lsb - 1))
            sels.append(
                f"SELECT {lvl} AS level, (cell_id & ({mask})) | {lsb} AS "
                f"cell_id, CAST(SUM(mass_ms) AS BIGINT) AS mass_ms "
                f"FROM {base} GROUP BY 2")
    return "\nUNION ALL\n".join(sels)


def oracle_sql() -> dict[str, str]:
    return {
        "w2_sessionize": f"""
WITH {_SESSION_CTE}
SELECT user_id, CAST(subset_id AS BIGINT) AS subset_id,
       COUNT(*) AS n_events,
       ROUND(MAX(epoch(ts)) - MIN(epoch(ts)), 6) AS span_s
FROM sess GROUP BY user_id, subset_id
""",
        "a1_time_weights": f"""
WITH {_SESSION_CTE}
SELECT event_id,
       ROUND(COALESCE(epoch(ts) - lag(epoch(ts)) OVER w, 0) / 2.0
             + COALESCE(lead(epoch(ts)) OVER w - epoch(ts), 0) / 2.0, 6)
         AS weight_s
FROM sess
WINDOW w AS (PARTITION BY user_id, subset_id ORDER BY ts, event_id)
""",
        "f3_seq_dedup": """
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM events
) WHERE pv IS DISTINCT FROM value OR pv IS NULL
""",
        "w3_change_segments": f"""
WITH {_SEGMENTS_CTE}
SELECT user_id, CAST(segment_id AS BIGINT) AS segment_id,
       epoch(start_ts) AS start_s, epoch(end_ts) AS end_s,
       event_type, CAST(n_rows AS BIGINT) AS n_rows
FROM spans2
""",
        "j3_interval_overlap": f"""
WITH {_SEGMENTS_CTE},
{_SESSION_CTE.strip().lstrip()}
, ses AS (
  SELECT user_id, subset_id, MIN(ts) AS b_start, MAX(ts) AS b_end
  FROM sess GROUP BY user_id, subset_id
)
SELECT a.user_id, CAST(a.segment_id AS BIGINT) AS segment_id,
       CAST(b.subset_id AS BIGINT) AS subset_id,
       ROUND(LEAST(epoch(a.end_ts), epoch(b.b_end))
             - GREATEST(epoch(a.start_ts), epoch(b.b_start)), 6) AS overlap_s
FROM spans2 a JOIN ses b USING (user_id)
WHERE epoch(a.start_ts) < epoch(b.b_end)
  AND epoch(b.b_start) < epoch(a.end_ts)
""",
        "j3_interval_binned": f"""
WITH {_SEGMENTS_CTE},
{_SESSION_CTE.strip().lstrip()}
, ses AS (
  SELECT user_id, subset_id, MIN(ts) AS b_start, MAX(ts) AS b_end
  FROM sess GROUP BY user_id, subset_id
)
SELECT a.user_id, CAST(a.segment_id AS BIGINT) AS segment_id,
       CAST(b.subset_id AS BIGINT) AS subset_id,
       ROUND(LEAST(epoch(a.end_ts), epoch(b.b_end))
             - GREATEST(epoch(a.start_ts), epoch(b.b_start)), 6) AS overlap_s
FROM spans2 a JOIN ses b USING (user_id)
WHERE epoch(a.start_ts) < epoch(b.b_end)
  AND epoch(b.b_start) < epoch(a.end_ts)
""",
        "a6_group_totals": """
SELECT user_id, event_type, COUNT(*) AS n,
       ROUND(SUM(value), 6) AS total_value,
       ROUND(AVG(value), 6) AS avg_value
FROM events GROUP BY user_id, event_type
""",
        "a7_daily_summary": """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
""",
        "a9_distinct": """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
        "o2_topk": """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3
""",
        "j6_asof_last_signup": """
WITH sig AS (
  SELECT user_id, ts, MAX(value) AS sig_value
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
),
u AS (
  SELECT user_id, ts AS ats, 0 AS side, NULL AS event_id, sig_value FROM sig
  UNION ALL
  SELECT user_id, ts AS ats, 1 AS side, event_id, NULL AS sig_value FROM events
)
SELECT event_id,
       ROUND(last_value(sig_value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ats, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS sig_value
FROM u QUALIFY side = 1
""",
        "x5_extract_geopoints": f"""
WITH {_PAGES_CTE}
SELECT url,
       regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
       TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
       TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon,
       TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) AS acc_m
FROM pages
WHERE lang IN ('en', 'fr', 'de')
  AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
  AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
""",
        "geo_sessions": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         (CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000) / 1000000.0 AS ce,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
-- F3: drop rows whose coords equal the previous row's (per host, time order)
g0 AS (
  SELECT host, url, ce, lat, lon FROM (
    SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
    FROM pts
    WINDOW w AS (PARTITION BY host ORDER BY ce, url)
  ) WHERE plat IS NULL OR NOT (lat = plat AND lon = plon)
),
{_g1_chain_sql()},
-- W2: observation-gap sessionization on the G1 survivors
w2 AS (
  SELECT *, CASE WHEN pce IS NULL OR ce - pce > {DEFAULT.gap_s}
                 THEN 1 ELSE 0 END AS nf
  FROM (SELECT *, lag(ce) OVER w AS pce FROM g{trace_prep.G1_ROUNDS}
        WINDOW w AS (PARTITION BY host ORDER BY ce, url))
),
w3 AS (
  SELECT *, SUM(nf) OVER (PARTITION BY host ORDER BY ce, url
                          ROWS UNBOUNDED PRECEDING) - 1 AS subset_id
  FROM w2
),
-- A1: half-gap time weights within subset
a1 AS (
  SELECT host, subset_id,
         COALESCE(CASE WHEN lag(subset_id) OVER w = subset_id
                       THEN ce - lag(ce) OVER w END, 0) / 2.0
       + COALESCE(CASE WHEN lead(subset_id) OVER w = subset_id
                       THEN lead(ce) OVER w - ce END, 0) / 2.0 AS weight_s
  FROM w3
  WINDOW w AS (PARTITION BY host ORDER BY ce, url)
)
SELECT host, CAST(subset_id AS BIGINT) AS subset_id,
       COUNT(*) AS n_points, ROUND(SUM(weight_s), 6) AS observed_s
FROM a1 GROUP BY host, subset_id
""",
        "j4_pip": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
locs AS (
  SELECT printf('host%04d.example', CAST(user_id %% 10000 AS INT)) AS host,
         s.location_id,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 17)
          %% 120000001) / 1e6 - 60.0 AS lat,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 9176)
          %% 350000001) / 1e6 - 175.0 AS lon
  FROM (SELECT DISTINCT user_id FROM events)
  CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS location_id) s
),
-- hexagon vertices, same float op order as the Spark query
verts AS (
  SELECT host, location_id, k,
         lat + (120.0 / 111320.0) * sin(k * (3.14159265358979 / 3.0)) AS vlat,
         lon + ((120.0 / 111320.0) * cos(k * (3.14159265358979 / 3.0)))
           / cos(radians(lat)) AS vlon
  FROM locs, (SELECT UNNEST(range(6)) AS k)
),
-- engine ring: verts 0..5 + closing copy of vertex 0, lons unwrapped as
-- lon0 + ((lon - lon0 + 180) mod 360) - 180 for indices >= 1 (closure
-- becomes (lon0 + 180) - 180, replicated exactly)
unw AS (
  SELECT host, location_id, k, vlat,
         CASE WHEN k = 0 THEN vlon
              ELSE (v0 + (((vlon - v0) + 180.0) %% 360.0)) - 180.0 END AS ulon,
         v0, y0f
  FROM (
    SELECT *,
           first_value(vlon) OVER w AS v0,
           first_value(vlat) OVER w AS y0f
    FROM verts
    WINDOW w AS (PARTITION BY host, location_id ORDER BY k)
  )
),
edges AS (
  SELECT host, location_id, v0,
         ulon AS x0, vlat AS y0,
         COALESCE(lead(ulon) OVER w, (v0 + 180.0) - 180.0) AS x1,
         COALESCE(lead(vlat) OVER w, y0f) AS y1
  FROM unw
  WINDOW w AS (PARTITION BY host, location_id ORDER BY k)
),
hits AS (
  SELECT p.url,
         CAST(substring(e.host, 5, 4) AS BIGINT) * 3 + e.location_id
           AS polygon_id,
         SUM(CASE WHEN ((e.y0 > p.lat) <> (e.y1 > p.lat))
                   AND ((e.v0 + (((p.lon - e.v0) + 180.0) %% 360.0)) - 180.0
                        < e.x0 + ((p.lat - e.y0) * (e.x1 - e.x0))
                                 / NULLIF(e.y1 - e.y0, 0.0))
                  THEN 1 ELSE 0 END) AS crossings
  FROM pts p JOIN edges e USING (host)
  GROUP BY p.url, e.host, e.location_id
)
SELECT url, polygon_id FROM hits WHERE crossings %% 2 = 1
""".replace("%%", "%"),
        "x3_interp_grid": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         warc_ts,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
nxt AS (
  -- warc_ts is 30x-compressed in web_pages_from_events (integer micros,
  -- truncated division) — replicate exactly, then epoch seconds = us/1e6
  SELECT host, lat, lon,
         lead(lat) OVER w AS nlat,
         lead(lon) OVER w AS nlon,
         lead(ce) OVER w - ce AS dt
  FROM (
    SELECT *,
           (CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
            + 1704067200000000) / 1000000.0 AS ce
    FROM pts
  )
  WINDOW w AS (PARTITION BY host ORDER BY ce, url)
),
seg AS (
  SELECT lat, lon, nlat, nlon,
         GREATEST(1, CAST(CEIL(
           2.0 * 6371008.8 * asin(sqrt(least(greatest(
             pow(sin((radians(nlat) - radians(lat)) / 2.0), 2)
             + cos(radians(lat)) * cos(radians(nlat))
               * pow(sin((radians(nlon) - radians(lon)) / 2.0), 2),
           0.0), 1.0))) / {DEFAULT.interpolation_step_m}) AS BIGINT)) AS n
  FROM nxt WHERE dt IS NOT NULL AND dt <= {DEFAULT.gap_s}
),
expanded AS (
  SELECT lat, lon, nlat, nlon, n, UNNEST(range(n)) AS k FROM seg
),
sites AS (
  SELECT lat + ((k + 0.5) / n) * (nlat - lat) AS slat,
         lon + ((k + 0.5) / n) * (nlon - lon) AS slon
  FROM expanded
)
SELECT CAST(FLOOR(slat / 0.002) AS BIGINT) AS gx,
       CAST(FLOOR(slon / 0.002) AS BIGINT) AS gy,
       COUNT(*) AS n_sites
FROM sites GROUP BY gx, gy
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 6) AS sum_qty,
       ROUND(SUM(l_extendedprice), 6) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "tpch_q3": """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
        "tpch_q5": """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
        "dedup_exact": """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
""",
        "boilerplate_tokens": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS n
  FROM (SELECT doc_id, UNNEST(l) AS tok FROM toks) GROUP BY tok
),
hot AS (
  SELECT COALESCE(list(tok), []) AS stop FROM dfreq
  WHERE n > 0.7 * (SELECT COUNT(DISTINCT doc_id) FROM documents)
),
kept AS (
  SELECT doc_id, l,
         list_filter(l, x -> NOT list_contains(h.stop, x)) AS kl
  FROM toks CROSS JOIN hot h
)
SELECT doc_id, COALESCE(array_to_string(kl, ' '), '') AS cleaned,
       CAST(len(kl) AS BIGINT) AS n_kept,
       CAST(len(l) - len(kl) AS BIGINT) AS n_removed
FROM kept
""",
        "j1_knn_assign": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
locs AS (
  SELECT printf('host%04d.example', CAST(user_id %% 10000 AS INT)) AS host,
         s.location_id,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 17)
          %% 120000001) / 1e6 - 60.0 AS lat,
         ((CAST(user_id AS BIGINT) * 2654435761 + s.location_id * 40503 + 9176)
          %% 350000001) / 1e6 - 175.0 AS lon
  FROM (SELECT DISTINCT user_id FROM events)
  CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS location_id) s
),
cand AS (
  SELECT p.url, l.location_id,
         2.0 * 6371008.8 * asin(sqrt(least(greatest(
           pow(sin((radians(l.lat) - radians(p.lat)) / 2.0), 2)
           + cos(radians(p.lat)) * cos(radians(l.lat))
             * pow(sin((radians(l.lon) - radians(p.lon)) / 2.0), 2),
           0.0), 1.0))) AS d
  FROM pts p JOIN locs l USING (host)
),
best AS (
  SELECT url, location_id,
         row_number() OVER (PARTITION BY url ORDER BY d, location_id) AS rk
  FROM cand WHERE d <= {DEFAULT.cluster_distance_m}
)
SELECT p.url, CAST(b.location_id AS BIGINT) AS location_id
FROM pts p LEFT JOIN (SELECT url, location_id FROM best WHERE rk = 1) b
USING (url)
""".replace("%%", "%"),
        "bigram_topk": r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS e
  FROM documents
),
grams AS (
  SELECT unnest(list_transform(generate_series(1, len(e) - 1),
                               i -> e[i] || ' ' || e[i + 1])) AS token
  FROM toks WHERE len(e) >= 2
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY token
)
SELECT token, n,
       CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank
FROM counts
ORDER BY n DESC, token ASC
LIMIT 100
""",
        "length_quantiles": r"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       quantile_cont(CAST(length(text) AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(length(text) AS DOUBLE), 0.5)  AS p50,
       quantile_cont(CAST(length(text) AS DOUBLE), 0.75) AS p75,
       quantile_cont(CAST(length(text) AS DOUBLE), 0.9)  AS p90
FROM documents
GROUP BY lang
""",
        "tfidf_topk": r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT t.doc_id, t.token, t.tf,
         CAST(t.tf AS DOUBLE)
           * ((SELECT CAST(count(*) AS DOUBLE) FROM documents)
              / CAST(d.df AS DOUBLE)) AS score
  FROM tf t JOIN dfreq d USING (token)
)
SELECT doc_id, token, tf, score, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token ASC) AS rk
  FROM scored
) WHERE rk <= 3
""",
        "vocab_topk": r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS token
  FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
)
SELECT token, n,
       CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank
FROM counts
ORDER BY n DESC, token ASC
LIMIT 100
""",
        "text_token_stats": r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS BIGINT) AS n_word_tokens
FROM documents
""",
        "text_quality": r"""
WITH base AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS toks,
         CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS nd,
         CAST(length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) AS np,
         CAST(length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nu
  FROM documents
),
ratios AS (
  SELECT doc_id, n, toks,
         ROUND((n - nd) / greatest(n, 1.0), 6) AS digit_ratio,
         ROUND((n - np) / greatest(n, 1.0), 6) AS punct_ratio,
         ROUND((n - nu) / greatest(n, 1.0), 6) AS upper_ratio,
         CAST(len(toks) AS DOUBLE) AS nw,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','and','of','to','is','was','for'])) AS DOUBLE) AS stop_n
  FROM base
),
r2 AS (
  SELECT doc_id, digit_ratio, punct_ratio, upper_ratio, nw,
         ROUND(stop_n / greatest(nw, 1.0), 6) AS stop_ratio,
         ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / greatest(nw, 1.0), 6) AS mean_word_len
  FROM ratios
)
SELECT doc_id, digit_ratio, punct_ratio, upper_ratio, stop_ratio,
       COALESCE(mean_word_len, 0.0) AS mean_word_len,
       ROUND((1.0 - least(digit_ratio * 4, 1.0)) * 0.25
             + (1.0 - least(punct_ratio * 4, 1.0)) * 0.25
             + least(stop_ratio * 10, 1.0) * 0.25
             + least(nw / 100.0, 1.0) * 0.25, 6) AS quality
FROM r2
""",
        "lang_id": r"""
WITH toks AS (
  SELECT doc_id, list_distinct(list_filter(
           regexp_split_to_array(lower(text), '\W+'), x -> x <> '')) AS t
  FROM documents
),
sc AS (
  SELECT doc_id,
    len(list_intersect(t, ['the','and','of','to','is','was','for'])) AS s_en,
    len(list_intersect(t, ['le','la','les','et','est','une','pour'])) AS s_fr,
    len(list_intersect(t, ['der','die','das','und','ist','ein','nicht'])) AS s_de,
    len(list_intersect(t, ['el','los','las','es','una','para','por'])) AS s_es
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM sc
""",
        # Gopher repetition signals: token/bigram mode + distinct counts
        # by unnest-group-count; each fraction is ONE IEEE division of the
        # same integer counts the Spark kernel computes (bit-exact)
        "repetition_stats": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
base AS (
  SELECT doc_id, t, len(t) AS n, len(list_distinct(t)) AS nd,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM toks
),
tc AS (
  SELECT doc_id, x, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(t) AS x FROM base) GROUP BY doc_id, x
),
tt AS (SELECT doc_id, MAX(c) AS top FROM tc GROUP BY doc_id),
bc AS (
  SELECT doc_id, x, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS x FROM base) GROUP BY doc_id, x
),
bt AS (SELECT doc_id, MAX(c) AS topbg, COUNT(*) AS ndbg
       FROM bc GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
  CASE WHEN b.n > 0 THEN CAST(t.top AS DOUBLE) / CAST(b.n AS DOUBLE)
       ELSE 0.0 END AS top_token_frac,
  CASE WHEN b.n > 0 THEN CAST(b.n - b.nd AS DOUBLE) / CAST(b.n AS DOUBLE)
       ELSE 0.0 END AS dup_token_frac,
  CASE WHEN len(b.bg) > 0
       THEN CAST(bt.topbg AS DOUBLE) / CAST(len(b.bg) AS DOUBLE)
       ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN len(b.bg) > 0
       THEN CAST(len(b.bg) - bt.ndbg AS DOUBLE) / CAST(len(b.bg) AS DOUBLE)
       ELSE 0.0 END AS dup_bigram_frac
FROM base b LEFT JOIN tt t USING (doc_id) LEFT JOIN bt USING (doc_id)
""",
        "decontaminate": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 13 = 0),
dg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
hits AS (
  SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM dg JOIN bench USING (gram) GROUP BY dg.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hit, 0) AS n_hit_grams,
       (h.doc_id IS NOT NULL) AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
        # CMS replay: portable-hash cells + min-probe, integer-exact
        "count_min": (r"""
WITH tk AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
tc AS (
  SELECT tok AS token, CAST(count(*) AS BIGINT) AS true_n
  FROM tk GROUP BY tok
),
cells AS (
  SELECT row, pos, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(range(0, {D})) AS row,
           unnest(list_transform(range(0, {D}),
             i -> ('0x' || substr(md5(i || ':' || tok), 1, 15))::BIGINT
                  % {W})) AS pos
    FROM tk)
  GROUP BY row, pos
),
probes AS (
  SELECT token,
         unnest(range(0, {D})) AS row,
         unnest(list_transform(range(0, {D}),
           i -> ('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT
                % {W})) AS pos
  FROM tc
),
est AS (
  SELECT token, min(coalesce(c, 0)) AS cms_est
  FROM probes LEFT JOIN cells USING (row, pos)
  GROUP BY token
)
SELECT tc.token, tc.true_n, est.cms_est,
       est.cms_est >= tc.true_n AS never_under,
       est.cms_est = tc.true_n AS exact_hit
FROM tc JOIN est USING (token)
ORDER BY tc.token
""".replace("{D}", str(_CMS_D)).replace("{W}", str(_CMS_W))),
        # streaming CMS shares the batch oracle (linearity)
        "stream_count_min": (r"""
WITH tk AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
tc AS (
  SELECT tok AS token, CAST(count(*) AS BIGINT) AS true_n
  FROM tk GROUP BY tok
),
cells AS (
  SELECT row, pos, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(range(0, {D})) AS row,
           unnest(list_transform(range(0, {D}),
             i -> ('0x' || substr(md5(i || ':' || tok), 1, 15))::BIGINT
                  % {W})) AS pos
    FROM tk)
  GROUP BY row, pos
),
probes AS (
  SELECT token,
         unnest(range(0, {D})) AS row,
         unnest(list_transform(range(0, {D}),
           i -> ('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT
                % {W})) AS pos
  FROM tc
),
est AS (
  SELECT token, min(coalesce(c, 0)) AS cms_est
  FROM probes LEFT JOIN cells USING (row, pos)
  GROUP BY token
)
SELECT tc.token, tc.true_n, est.cms_est,
       est.cms_est >= tc.true_n AS never_under,
       est.cms_est = tc.true_n AS exact_hit
FROM tc JOIN est USING (token)
ORDER BY tc.token
""".replace("{D}", str(_CMS_D)).replace("{W}", str(_CMS_W))),
        # curation-pipeline replay: all five stages as one CTE chain —
        # each stage's oracle fragment re-rooted on its predecessor
        "curation_pipeline": (r"""
WITH t0 AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS toks
  FROM documents
),
s1 AS (SELECT * FROM t0 WHERE len(toks) >= {MINTOK}),
win AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY text),
s2 AS (SELECT s1.* FROM s1 JOIN win USING (doc_id)),
bsh AS (
  SELECT DISTINCT unnest(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM t0 WHERE doc_id % 13 = 0
),
cont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
    FROM s2) g
  JOIN bsh USING (gram)
),
s3 AS (SELECT * FROM s2 ANTI JOIN cont USING (doc_id)),
s4 AS (
  SELECT * FROM s3
  WHERE ((CAST(doc_id AS BIGINT) * 2654435761 + 97) % 2147483648)
        < (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                THEN 1.0 ELSE 0.5 END) * 2147483648
),
sz AS (
  SELECT source, doc_id, toks, CAST(len(toks) AS BIGINT) AS n
  FROM s4 WHERE len(toks) > 0
),
off AS (
  SELECT source, doc_id, toks, n,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS o
  FROM sz
),
b AS (
  SELECT source, doc_id, toks, n, o,
         unnest(generate_series(o // {CAP}, (o + n - 1) // {CAP})) AS bin_id
  FROM off
)
SELECT source, CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       GREATEST(bin_id * {CAP}, o) - o AS start_tok,
       LEAST((bin_id + 1) * {CAP}, o + n) - GREATEST(bin_id * {CAP}, o)
         AS n_tok,
       array_to_string(
         list_slice(toks,
                    CAST(GREATEST(bin_id * {CAP}, o) - o + 1 AS INT),
                    CAST(LEAST((bin_id + 1) * {CAP}, o + n) - o AS INT)),
         ' ') AS piece
FROM b
ORDER BY source, bin_id, doc_id
""".replace("{MINTOK}", str(_CUR_MINTOK)).replace("{CAP}", str(_CUR_CAP))),
        # streaming curation replay: the final CDC table equals the batch
        # gate + DISTINCT because the sink's per-key fold is associative
        # and every output column is text-determined (see q_stream_curation)
        "stream_curation": r"""
WITH t0 AS (
  SELECT text,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT DISTINCT md5(text) AS k,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tok
FROM t0 WHERE len(toks) >= {MINTOK}
""".replace("{MINTOK}", str(_CUR_MINTOK)),
        # quant-PCA replay: all 8 power rounds + projection, value-exact
        "pca_power": "WITH " + _pca_chain_sql() + f"""
SELECT y.vec_id,
       CAST(sum(y.y * v.v) AS BIGINT) AS pc1_score
FROM y JOIN v8 v ON y.i = v.i
GROUP BY y.vec_id
ORDER BY y.vec_id
""",
        # fuzzy-pair replay: blocking is lossless so the oracle IS the
        # definition — all pairs within the length band, verified by
        # DuckDB's unit-cost levenshtein (same recurrence as Spark's)
        "fuzzy_pairs": """
WITH t AS (SELECT doc_id, substr(text, 1, 16) AS s FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM t a JOIN t b
  ON a.doc_id < b.doc_id AND abs(len(a.s) - len(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2
ORDER BY id_a, id_b
""",
        # html extraction: rebuild the wrapper from the page replay, run
        # the same regex chain (RE2-safe: no backrefs; 'g' flag = Spark's
        # always-global regexp_replace), byte-compare with stored text
        "x8_html_extract": "WITH " + _PAGES_CTE + r""",
h AS (
  SELECT url, text,
         '<html><head><meta charset="utf-8"/></head><body><p>'
         || text || '</p></body></html>' AS html
  FROM pages
),
x AS (
  SELECT url, text,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?is)<script[^>]*>.*?</script>',
                                  ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?is)<head(\s[^>]*)?>.*?</head>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS ext
  FROM h
)
SELECT url, md5(ext) AS extracted_md5, ext = text AS matches_stored
FROM x ORDER BY url
""",
        # exact quantiles: same linear interpolation on the same sorted
        # integer multiset in both engines
        "exact_quantiles": """
SELECT event_type,
       quantile_cont(floor(value * 100), 0.25) AS p25,
       quantile_cont(floor(value * 100), 0.5) AS p50,
       quantile_cont(floor(value * 100), 0.9) AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
        # entity-resolution replay: all-pairs levenshtein edges (lossless
        # blocking) closed by a recursive CTE, min reachable id per node
        "entity_resolution": """
WITH RECURSIVE t AS (
  SELECT doc_id, substr(text, 1, 16) AS s FROM documents
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
   AND abs(len(a.s) - len(b.s)) <= 2
  WHERE levenshtein(a.s, b.s) <= 2
),
edges AS (
  SELECT a AS s, b AS d FROM pairs
  UNION ALL
  SELECT b AS s, a AS d FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
rep AS (
  SELECT s AS doc_id, LEAST(s, MIN(d)) AS entity_rep FROM reach GROUP BY s
)
SELECT dd.doc_id,
       COALESCE(r.entity_rep, dd.doc_id) AS entity_rep,
       CAST(COALESCE(r.entity_rep, dd.doc_id) = dd.doc_id AS BIGINT)
         AS is_canonical
FROM documents dd LEFT JOIN rep r USING (doc_id)
ORDER BY dd.doc_id
""",
        # bloom decontamination replay: same md5_60 position family, bit
        # set as a distinct-position table, membership = all k positions
        # present (bool_and over a left join) — decision-identical to the
        # Spark literal-bitmap probe
        "decontaminate_bloom": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
bgrams AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 13 = 0),
bpos AS (
  SELECT DISTINCT unnest(list_transform(range(0, {K}),
    i -> ('0x' || substr(md5(i || ':' || gram), 1, 15))::BIGINT % {M}))
    AS p
  FROM bgrams
),
dg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
dpos AS (
  SELECT doc_id, gram,
         unnest(list_transform(range(0, {K}),
           i -> ('0x' || substr(md5(i || ':' || gram), 1, 15))::BIGINT
                % {M})) AS p
  FROM dg
),
maybe AS (
  SELECT doc_id, gram
  FROM dpos LEFT JOIN bpos ON dpos.p = bpos.p
  GROUP BY doc_id, gram
  HAVING bool_and(bpos.p IS NOT NULL)
),
bloomhits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_maybe FROM maybe
  GROUP BY doc_id
),
exacthits AS (
  SELECT DISTINCT dg.doc_id FROM dg JOIN bgrams USING (gram)
)
SELECT d.doc_id,
       COALESCE(b.n_maybe, 0) AS n_maybe_grams,
       (b.doc_id IS NOT NULL) AS is_flagged,
       (e.doc_id IS NOT NULL) AS exact_flagged,
       (b.doc_id IS NOT NULL AND e.doc_id IS NULL) AS bloom_fp,
       (b.doc_id IS NULL AND e.doc_id IS NOT NULL) AS bloom_fn
FROM documents d
LEFT JOIN bloomhits b USING (doc_id)
LEFT JOIN exacthits e USING (doc_id)
ORDER BY d.doc_id
""".replace("{K}", str(_BLOOM_K)).replace("{M}", str(_BLOOM_M)),
        "dedup_ngram_jaccard": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
               THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s)))
               ELSE 0.0 END, 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.2
""",
        "a9_cube": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 6) AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "o3_setops": """
WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
erring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT user_id, 'buy_no_err' AS cohort FROM (
  SELECT user_id FROM buyers EXCEPT ALL SELECT user_id FROM erring)
UNION ALL
SELECT user_id, 'buy_and_err' AS cohort FROM (
  SELECT user_id FROM buyers INTERSECT SELECT user_id FROM erring)
""",
        "x7_props_json": """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
""",
        "sample_stratified": """
SELECT event_id, user_id, event_type FROM events
WHERE ((CAST(event_id AS BIGINT) * 2654435761 + 97) % 2147483648)
      < (CASE event_type WHEN 'click' THEN 0.5 WHEN 'purchase' THEN 1.0
              WHEN 'view' THEN 0.1 END) * 2147483648
""",
        # exact oracle: LSH band recall on >=0.5-Jaccard pairs is 1.0 at
        # these params (verified pair-for-pair incl. values), and the
        # verify stage computes exact Jaccard — so the all-pairs exact twin
        # IS the expected output (see q_dedup_minhash_lsh docstring)
        "dedup_minhash_lsh": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
               THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s)))
               ELSE 0.0 END, 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5
""",
        # incremental probe: the same exact-Jaccard oracle restricted to
        # pairs touching the new batch (b always new; a<b when both new,
        # a = the historical id otherwise)
        "dedup_incremental": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
               THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s)))
               ELSE 0.0 END, 6) AS jaccard
  FROM sh a JOIN sh b
    ON b.doc_id % 3 = 0
   AND a.doc_id <> b.doc_id
   AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
)
SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5
ORDER BY a, b
""",
        # near-dup components over the exact pair graph via recursive CTE
        # (UNION dedups, so the closure terminates); representative = min
        # reachable id.  Valid as an exact oracle because LSH pair recall
        # is 1.0 at the query params (see dedup_minhash_lsh above).
        "dedup_clusters": r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
              THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.s, b.s)))
              ELSE 0.0 END, 6) >= 0.5
),
edges AS (
  SELECT a AS s, b AS d FROM pairs
  UNION ALL
  SELECT b AS s, a AS d FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
rep AS (
  SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_rep FROM reach GROUP BY s
)
SELECT dd.doc_id,
       COALESCE(r.cluster_rep, dd.doc_id) AS cluster_rep,
       CAST(COALESCE(r.cluster_rep, dd.doc_id) = dd.doc_id AS BIGINT)
         AS is_kept
FROM documents dd LEFT JOIN rep r USING (doc_id)
""",
        # n_exact is a true SQL computation; the floor row pins the
        # deterministic engine-side invariant (recall value itself is
        # LSH-hash-dependent and has no SQL twin)
        "ann_lsh_recall": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_dot_product(a.e, b.e) / (a.nr * b.nr) AS sim
  FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id
),
topk AS (
  SELECT a, b FROM (
    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
    FROM p
  ) WHERE rk <= 3
)
SELECT 'n_exact' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM topk
UNION ALL
SELECT 'recall_floor_0.80_met' AS metric, 1.0 AS value
""",
        # MOSS winnowing replayed exactly: positional 5-gram md5_60 hashes,
        # min per 4-wide sliding window (DuckDB list slices are 1-based
        # inclusive: hs[i:i+3] is 4 elements), distinct per doc; <= window
        # grams degenerate to the single global min, 0 grams to no rows
        "winnow_fingerprints": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
gr AS (
  SELECT doc_id, list_transform(
    range(1, greatest(len(t) - 4, 0) + 1),
    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         || ' ' || t[i+4]) AS g
  FROM toks
),
h AS (
  SELECT doc_id, list_transform(
    g, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM gr
),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
              WHEN len(hs) <= 4 THEN [list_min(hs)]
              ELSE list_distinct(list_transform(
                     range(1, len(hs) - 2), i -> list_min(hs[i:i+3])))
         END AS fp
  FROM h
)
SELECT doc_id, unnest(fp) AS fingerprint FROM w
""",
        "simhash_near_pairs": _simhash_oracle_sql(max_hamming=8),
        "pii_redact": _pii_oracle_sql(),
        # same messy-spelling construction, same canonicalization regex
        # chain (Java∩RE2), latest-snapshot pick replayed as a window
        "url_dedup": r"""
WITH raw AS (
  SELECT CAST(event_id AS BIGINT) AS eid, ts,
         CAST(event_id AS BIGINT) // 3 AS gid
  FROM events
),
ms AS (
  SELECT eid, ts, CAST(gid % 10000 AS INT) AS h, CAST(gid AS INT) AS p
  FROM raw
),
msy AS (
  SELECT ts AS warc_ts,
    CASE eid % 6
      WHEN 0 THEN printf('https://host%04d.example/p/%09d?a=1&b=2', h, p)
      WHEN 1 THEN printf('HTTPS://HOST%04d.EXAMPLE/p/%09d?b=2&a=1', h, p)
      WHEN 2 THEN printf('https://host%04d.example:443/p/%09d?a=1&b=2#s',
                         h, p) || CAST(eid % 5 AS VARCHAR)
      WHEN 3 THEN printf('https://www.host%04d.example/p/%09d?a=1&b=2', h, p)
      WHEN 4 THEN printf('https://host%04d.example/p/%09d/?a=1&b=2', h, p)
      ELSE printf('https://host%04d.example/p/%09d?b=2&a=1', h, p)
    END AS url
  FROM ms
),
cn AS (
  SELECT url, warc_ts,
         regexp_replace(url, '#.*$', '') AS nofrag,
         regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS q,
         regexp_replace(regexp_replace(url, '#.*$', ''), '\?.*$', '') AS pre
  FROM msy
),
cn2 AS (
  SELECT url, warc_ts, q,
         lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(pre, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM cn
),
cn3 AS (
  SELECT url, warc_ts, q, scheme,
         regexp_replace(lower(regexp_extract(rest, '^[^/]*', 0)),
                        '^www\.', '') AS host0,
         regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/+$', '')
           AS path
  FROM cn2
),
cn4 AS (
  SELECT url, warc_ts,
         scheme || '://'
         || CASE WHEN scheme = 'http'
                 THEN regexp_replace(host0, ':80$', '')
                 WHEN scheme = 'https'
                 THEN regexp_replace(host0, ':443$', '')
                 ELSE host0 END
         || path
         || CASE WHEN len(list_filter(string_split(q, '&'),
                                      x -> x <> '')) > 0
                 THEN '?' || array_to_string(
                        list_sort(list_filter(string_split(q, '&'),
                                              x -> x <> '')), '&')
                 ELSE '' END AS canon_url
  FROM cn3
),
sel AS (
  SELECT canon_url, url, warc_ts,
         COUNT(*) OVER (PARTITION BY canon_url) AS n_snapshots,
         ROW_NUMBER() OVER (PARTITION BY canon_url
                            ORDER BY warc_ts DESC, url DESC) AS rn
  FROM cn4
)
SELECT canon_url, CAST(n_snapshots AS BIGINT) AS n_snapshots, url, warc_ts
FROM sel WHERE rn = 1
""",
        # planted exact-dup pairs: n_planted is real SQL; the found-frac /
        # max-hamming rows pin the deterministic pigeonhole invariant
        # (identical token sequence => identical simhash => hamming 0 =>
        # candidate in every band)
        "simhash_dup_recall": """
SELECT 'n_planted' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS value
FROM documents WHERE doc_id % 7 = 0
UNION ALL SELECT 'planted_found_frac', 1.0
UNION ALL SELECT 'planted_hamming_max', 0.0
""",
        "cosine_near_dup_recall": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_dot_product(a.e, b.e) / (a.nr * b.nr) AS sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT 'n_exact' AS metric, CAST(COUNT(*) AS DOUBLE) AS value
FROM p WHERE sim >= 0.35
UNION ALL
SELECT 'precision' AS metric, 1.0 AS value
UNION ALL
SELECT 'recall_floor_0.85_met' AS metric, 1.0 AS value
""",
        # tile-pyramid mass conservation: every level's total == observed
        # span-seconds of the cleaned sessionized trace (SQL-computable
        # from the same G1+W2 chain; DuckDB only evaluates the CTEs this
        # query references, so the kNN/W5 parts of the shared chain are
        # pruned)
        "tiles_pyramid": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_cell_encode_sql(DEFAULT.cell_level)},
base AS (
  SELECT cell_id, CAST(SUM(mq) AS BIGINT) AS mass_ms FROM enc GROUP BY cell_id
)
{_pyramid_levels_sql()}
""",
        "geo_locations_quant": _kde_quant_sql(),
        "geo_episodes_quant": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")}
SELECT host, seq, su / 1000000.0 AS start_s, eu / 1000000.0 AS end_s,
       kind, location_id
FROM eps
""",
        # A7 on the quant episode chain: midnight split via generate_series
        # + clip, per-kind second sums (same day arithmetic as
        # a7_labeled_day_summary's green oracle).
        "a7_day_summary_quant": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")},
days AS (
  SELECT host, seq, kind,
         su / 1000000.0 AS start_s, eu / 1000000.0 AS end_s,
         UNNEST(generate_series(
            date_trunc('day', make_timestamp(su)),
            date_trunc('day', make_timestamp(eu)),
            INTERVAL 1 DAY)) AS day0
  FROM eps
),
clip AS (
  SELECT host, seq, kind, strftime(day0, '%Y-%m-%d') AS day,
         GREATEST(LEAST(end_s, epoch(day0) + 86400.0)
                  - GREATEST(start_s, epoch(day0)), 0.0) AS dur_s
  FROM days
)
SELECT host, day,
       ROUND(SUM(CASE WHEN kind = 'activity' THEN dur_s ELSE 0 END), 6)
         AS activity_s,
       ROUND(SUM(CASE WHEN kind = 'travel' THEN dur_s ELSE 0 END), 6)
         AS travel_s,
       ROUND(SUM(CASE WHEN kind = 'unknown' THEN dur_s ELSE 0 END), 6)
         AS unknown_s,
       COUNT(DISTINCT CASE WHEN kind = 'activity' THEN seq END)
         AS n_activities
FROM clip GROUP BY host, day
""",
        # A8 on the quant episode chain: the engine's interval-overlap
        # join (strict < on epoch seconds, overlap = least(ends) -
        # greatest(starts)) against the every-5th-activity->travel flip,
        # then the per-host agreement ratio.
        "geo_agreement_quant": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")},
algo AS (
  SELECT host, su / 1000000.0 AS ss, eu / 1000000.0 AS es,
         kind, location_id
  FROM eps
),
truth AS (
  SELECT host, ss, es,
         CASE WHEN kind = 'activity' AND seq % 5 = 0
              THEN 'travel' ELSE kind END AS kind,
         location_id
  FROM (SELECT host, seq, su / 1000000.0 AS ss, eu / 1000000.0 AS es,
               kind, location_id FROM eps)
),
ov AS (
  SELECT a.host,
         LEAST(a.es, b.es) - GREATEST(a.ss, b.ss) AS overlap_s,
         (a.kind = b.kind
          AND a.location_id IS NOT DISTINCT FROM b.location_id) AS ok
  FROM algo a JOIN truth b
    ON a.host = b.host AND a.ss < b.es AND b.ss < a.es
)
SELECT host,
       ROUND(SUM(CASE WHEN ok THEN overlap_s ELSE 0.0 END)
             / SUM(overlap_s), 6) AS agreement,
       ROUND(SUM(overlap_s), 6) AS overlap_total_s
FROM ov GROUP BY host
""",
        # Float-vs-quant parity gate: the two n_* anchors are TRUE SQL
        # computations (the same quant KDE + episode chains the quant
        # twins replay); the booleans pin the measured float/quant margins
        # (see q_geo_float_parity docstring) as 1.0 literals — the
        # recall-gate pattern (ann_lsh_recall).
        "geo_float_parity": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")}
SELECT 'n_locations_quant' AS metric,
       CAST((SELECT COUNT(*) FROM qlocs) AS DOUBLE) AS value
UNION ALL SELECT 'locations_aligned', 1.0
UNION ALL SELECT 'locations_latlon_tol_1e-6_met', 1.0
UNION ALL SELECT 'locations_dwell_rtol_1e-2_met', 1.0
UNION ALL SELECT 'n_episodes_quant',
       CAST((SELECT COUNT(*) FROM eps) AS DOUBLE)
UNION ALL SELECT 'episodes_equal_floor_0.999_met', 1.0
UNION ALL SELECT 'day_summary_tol_1e-6_met', 1.0
UNION ALL SELECT 'agreement_tol_1e-6_met', 1.0
""",
        # sf0.1 float-parity extension: a CTE named `events` shadows the
        # sf0.01 view and reads the FIXED sf0.1 parquet by absolute path,
        # restricted to hosts 0150-0299 — per-host volume is constant
        # across scale factors, so this slice is an sf0.01-SIZED true SQL
        # replay of the quant chains over hosts the sf0.01 sweep never
        # touches (the unrestricted sf0.1 replay spills ~100 GB of DuckDB
        # temp in the sites-x-stencil materialization and is not
        # affordable as an oracle).  The full-corpus counts and the
        # margin booleans are pinned as measured literals — the
        # recall-gate pattern; the Spark side recomputes all of them from
        # the data, so any drift flips the value hash.
        "geo_float_parity_sf01": f"""
WITH events AS (SELECT * FROM '{_SF01_DIR}/events.parquet'
                WHERE user_id BETWEEN 150 AND 299),
{_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")}
SELECT 'sf01_n_locations_quant' AS metric, 2750.0 AS value
UNION ALL SELECT 'sf01_locations_key_aligned', 1.0
UNION ALL SELECT 'sf01_locations_ncells_flips_max50', 1.0
UNION ALL SELECT 'sf01_locations_latlon_tol_met', 1.0
UNION ALL SELECT 'sf01_locations_dwell_rtol_0.2_met', 1.0
UNION ALL SELECT 'sf01_n_episodes_quant', 49937.0
UNION ALL SELECT 'sf01_episodes_equal_floor_0.999_met', 1.0
UNION ALL SELECT 'sf01_sub_n_locations_quant',
       CAST((SELECT COUNT(*) FROM qlocs) AS DOUBLE)
UNION ALL SELECT 'sf01_sub_n_episodes_quant',
       CAST((SELECT COUNT(*) FROM eps) AS DOUBLE)
""",
        # Streaming emission replay: same fin rows as geo_episodes_quant,
        # filtered to watermark-closed subsets per the machine's exact rule
        # (see q_stream_episodes docstring).  Single-batch ingestion makes
        # the final watermark floor(max_ts_ms) - 48 h.
        "stream_episodes": f"""
WITH {_PAGES_CTE},
{_prep_sites_sql()},
{_kde_quant_cte()},
{_knn_eps_cte("qlocs")},
sub AS (
  SELECT host, subset_id, MIN(ceu) AS fts, MAX(ceu) AS lts
  FROM sess GROUP BY host, subset_id
),
wm AS (
  SELECT (CAST(FLOOR(MAX(ceu) / 1000) AS BIGINT) - {_STREAM_WM_MS}) * 1000
    AS wm_us
  FROM sess
),
subn AS (
  SELECT *, lead(fts) OVER (PARTITION BY host ORDER BY subset_id) AS nfts
  FROM sub
),
cl AS (
  SELECT s.*, CASE WHEN s.nfts IS NOT NULL THEN s.nfts <= w.wm_us
                   ELSE w.wm_us > s.lts + {int(DEFAULT.gap_s * 1e6)} END
           AS closed
  FROM subn s CROSS JOIN wm w
)
SELECT f.host, f.su / 1000000.0 AS start_s, f.eu / 1000000.0 AS end_s,
       CASE WHEN f.lab IS NULL THEN 'travel' ELSE 'activity' END AS kind,
       CAST(f.lab AS BIGINT) AS location_id
FROM fin f JOIN cl USING (host, subset_id) WHERE cl.closed
UNION ALL
SELECT host, lts / 1000000.0 AS start_s, nfts / 1000000.0 AS end_s,
       'unknown' AS kind, CAST(NULL AS BIGINT) AS location_id
FROM cl WHERE closed AND nfts IS NOT NULL
""",
        # Stream-stream LEFT OUTER interval join replay (see
        # q_stream_interval_join docstring): matched set = the batch
        # interval join (single-batch ingestion, nothing late);
        # null-extended rows = unmatched left rows evicted by the final
        # watermark: tu <= (wm_ms - after_ms)*1000 - 1000, wm_ms = min of
        # per-side floor(max_us/1000) - delay (all empirically pinned).
        "stream_interval_join": f"""
WITH lp AS (
  SELECT printf('host%04d.example', CAST(user_id % 10000 AS INT)) AS host,
         CAST(event_id AS BIGINT) AS pt_id,
         CAST(TRUNC((epoch_us(ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000 AS tu
  FROM events
),
rp AS (
  SELECT printf('host%04d.example', CAST(user_id % 10000 AS INT)) AS ph,
         CAST(event_id AS BIGINT) AS place_id,
         CAST(TRUNC((epoch_us(ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000 AS pu
  FROM events WHERE event_id % 16 = 0
),
wm AS (
  SELECT LEAST((SELECT CAST(FLOOR(MAX(tu) / 1000.0) AS BIGINT) FROM lp),
               (SELECT CAST(FLOOR(MAX(pu) / 1000.0) AS BIGINT) FROM rp))
         - {_STREAM_WM_MS} AS wm_ms
),
m AS (
  SELECT l.host, l.pt_id, l.tu AS pt_us, r.place_id, r.pu AS place_us
  FROM lp l JOIN rp r
    ON l.host = r.ph
   AND r.pu BETWEEN l.tu - {_SSJ_BEFORE_S * 1_000_000}
                AND l.tu + {_SSJ_AFTER_S * 1_000_000}
)
SELECT host, pt_id, pt_us, place_id, place_us FROM m
UNION ALL
SELECT l.host, l.pt_id, l.tu AS pt_us,
       CAST(NULL AS BIGINT) AS place_id, CAST(NULL AS BIGINT) AS place_us
FROM lp l CROSS JOIN wm
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.pt_id = l.pt_id)
  AND l.tu <= (wm.wm_ms - {_SSJ_AFTER_S * 1000}) * 1000 - 1000
""",
        # Streaming W2 replay: gap sessionization (split strictly > gap —
        # session_window merges the == gap edge, verified), window end =
        # last_ts + gap, emitted iff end <= wm = floor(max_ts_ms)*1000 -
        # delay (Spark's eviction predicate is us-vs-watermark_ms*1000).
        "stream_sessionize": f"""
WITH {_PAGES_CTE},
hp AS (
  -- datagen's web_pages_from_events emits the 30x-compressed warc_ts on
  -- the Spark side; the SQL pages CTE is raw, so compress here with the
  -- prep chain's exact ceu formula.
  SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000 AS tu
  FROM pages
),
sw AS (
  SELECT host, tu,
         CASE WHEN ptu IS NULL OR tu - ptu > {_SESS_GAP_US} THEN 1 ELSE 0 END
           AS nf
  FROM (SELECT *, lag(tu) OVER (PARTITION BY host ORDER BY tu) AS ptu
        FROM hp)
),
sid AS (
  SELECT host, tu,
         SUM(nf) OVER (PARTITION BY host ORDER BY tu
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM sw
),
agg AS (
  SELECT host, sid, MIN(tu) AS su, MAX(tu) AS eu, COUNT(*) AS n_points
  FROM sid GROUP BY host, sid
),
wm AS (
  SELECT (CAST(FLOOR(MAX(tu) / 1000) AS BIGINT) - {_STREAM_WM_MS}) * 1000
    AS wm_us
  FROM hp
)
SELECT host, su / 1000000.0 AS start_s,
       (eu + {_SESS_GAP_US}) / 1000000.0 AS end_s, n_points
FROM agg CROSS JOIN wm WHERE eu + {_SESS_GAP_US} <= wm_us
""",
        # Low-latency W3 machine replay (see q_stream_w3_runs docstring):
        # planted-loc kNN labels, runs split on gap-or-label-change, end =
        # own last ts on a gap else successor's first ts, tail withheld.
        "stream_w3_runs": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         CAST(TRUNC((epoch_us(warc_ts) - 1704067200000000) / 30) AS BIGINT)
          + 1704067200000000 AS ceu,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE) AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE) IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE) <= {DEFAULT.min_accuracy_m}
),
{_PLANTED_LOCS_CTE},
kcand AS (
  SELECT p.url, l.location_id,
         {_hav_sql("p.lat", "p.lon", "l.lat", "l.lon")} AS d
  FROM pts p JOIN locs l USING (host)
),
kbest AS (
  SELECT url, location_id FROM (
    SELECT url, location_id,
           row_number() OVER (PARTITION BY url ORDER BY d, location_id) AS rk
    FROM kcand WHERE d <= {DEFAULT.cluster_distance_m}
  ) WHERE rk = 1
),
asgw AS (
  SELECT p.host, p.url, p.ceu, b.location_id
  FROM pts p LEFT JOIN kbest b USING (url)
),
m0 AS (
  SELECT host, url, ceu, location_id,
         lag(ceu) OVER w AS pceu,
         lag(location_id) OVER w AS plab,
         row_number() OVER w AS rn
  FROM asgw
  WINDOW w AS (PARTITION BY host ORDER BY ceu, url)
),
m1 AS (
  SELECT *,
         CASE WHEN rn > 1 AND (ceu - pceu > {int(DEFAULT.gap_s * 1e6)}
                               OR location_id IS DISTINCT FROM plab)
              THEN 1 ELSE 0 END AS bnd,
         CASE WHEN rn > 1 AND ceu - pceu > {int(DEFAULT.gap_s * 1e6)}
              THEN 1 ELSE 0 END AS isgap
  FROM m0
),
m2 AS MATERIALIZED (
  SELECT *, SUM(bnd) OVER (PARTITION BY host ORDER BY ceu, url
                           ROWS UNBOUNDED PRECEDING) AS rid
  FROM m1
),
mr AS (
  SELECT host, rid, MIN(ceu) AS su, MAX(ceu) AS lu,
         MIN(location_id) AS lab, COUNT(*) AS n
  FROM m2 GROUP BY host, rid
),
mb AS (SELECT host, rid, isgap FROM m2 WHERE bnd = 1 OR rn = 1),
mx AS (
  SELECT m.host, m.rid, m.su, m.lu, m.lab, m.n,
         lead(m.su) OVER (PARTITION BY m.host ORDER BY m.rid) AS nsu,
         lead(b.isgap) OVER (PARTITION BY m.host ORDER BY m.rid) AS ngap
  FROM mr m JOIN mb b USING (host, rid)
)
SELECT host, su / 1000000.0 AS start_s,
       CASE WHEN ngap = 1 THEN lu ELSE nsu END / 1000000.0 AS end_s,
       CAST(lab AS BIGINT) AS location_id, n AS n_points
FROM mx WHERE nsu IS NOT NULL
""",
        # Streaming exact-dedup replay: single-batch ingestion starts at
        # watermark 0 (nothing evicted mid-batch), so the emitted set is
        # one row per distinct text; the projection is text-determined.
        "stream_dedup_exact": """
SELECT DISTINCT md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
        # Streaming raster replay: full prep + X3 sites (carrying the
        # segment-start ts) + the native cell encode, then the tumbling
        # window arithmetic (start = floor(ts_us/win)*win), integer-ms
        # mass sums, emitted iff window end <= the final watermark in us.
        "stream_cell_density": f"""
WITH {_PAGES_CTE},
{_prep_chain_sql()},
{_sites_from_sess_sql(carry_ts=True)},
{_cell_encode_sql(DEFAULT.cell_level)},
wm AS (
  SELECT (CAST(FLOOR(MAX(ceu) / 1000) AS BIGINT) - {_STREAM_WM_MS}) * 1000
    AS wm_us
  FROM sites
),
grp AS (
  SELECT (ceu // {_DENSITY_WIN_US}) * {_DENSITY_WIN_US} AS ws_us, cell_id,
         CAST(SUM(mq) AS BIGINT) AS mass_ms
  FROM enc GROUP BY 1, 2
)
SELECT ws_us / 1000000.0 AS window_s, cell_id, mass_ms
FROM grp CROSS JOIN wm WHERE ws_us + {_DENSITY_WIN_US} <= wm_us
""",
        "tiles_mass_check": f"""
WITH {_PAGES_CTE},
{_w5_episodes_cte()},
spans AS (
  SELECT host, subset_id, MAX(ce) - MIN(ce) AS span_s
  FROM sess GROUP BY host, subset_id
),
tot AS (SELECT SUM(span_s) AS t FROM spans)
SELECT CAST(l.level AS BIGINT) AS level, ROUND(tot.t, 1) AS total_mass_s
FROM (VALUES (16), (14), (12), (10)) AS l(level), tot
""",
        # frame offsets are pure arithmetic over the payload byte length
        # (== char length: fixture html is ASCII); Spark's int cast
        # truncates, hence TRUNC
        "media_frame_sample": f"""
WITH {_PAGES_CTE},
med AS (
  SELECT url,
         CAST(length('<html><head><meta charset="utf-8"/></head><body><p>'
                     || text || '</p></body></html>') AS BIGINT) AS n
  FROM pages
  WHERE CAST(substr(url, length(url) - 8, 9) AS BIGINT) % 20 = 0
),
nf AS (
  SELECT url, n,
         LEAST(GREATEST(CAST(TRUNC(n / 32.0) AS INT), 1), 8) AS k
  FROM med
),
ex AS (
  SELECT url, n, k, UNNEST(range(k)) AS i FROM nf
)
SELECT url, n AS n_bytes, CAST(i AS BIGINT) AS frame_idx,
       CAST(TRUNC(i * (n / CAST(k AS DOUBLE))) AS BIGINT) AS offset
FROM ex
""",
        # sha256 of the reconstructed html string == sha256 of the binary
        # payload (utf-8); first digest word little-endian / 2^32 as float32
        "media_decode": f"""
WITH {_PAGES_CTE},
med AS (
  SELECT url,
         sha256('<html><head><meta charset="utf-8"/></head><body><p>' || text
                || '</p></body></html>') AS h
  FROM pages
  WHERE CAST(substr(url, length(url) - 8, 9) AS BIGINT) % 20 = 0
)
SELECT url,
       ROUND(CAST(CAST((('0x' || substr(h, 1, 2))::BIGINT
              + ('0x' || substr(h, 3, 2))::BIGINT * 256
              + ('0x' || substr(h, 5, 2))::BIGINT * 65536
              + ('0x' || substr(h, 7, 2))::BIGINT * 16777216)
             / 4294967296.0 AS FLOAT) AS DOUBLE), 6) AS f0,
       CAST(NULL AS VARCHAR) AS decode_error
FROM med
""",
        "media_phash": _phash_oracle_sql(),
        "w5_episodes": f"""
WITH {_PAGES_CTE},
{_w5_episodes_cte()}
SELECT host, seq, su / 1000000.0 AS start_s, eu / 1000000.0 AS end_s,
       kind, location_id
FROM eps
""",
        "a7_labeled_day_summary": f"""
WITH {_PAGES_CTE},
{_w5_episodes_cte()},
lab AS (
  SELECT host, location_id,
         (['home', 'work', 'study'])[location_id + 1] AS label
  FROM locs
),
labj AS (
  SELECT e.host, e.seq, e.su, e.eu, e.kind,
         CASE WHEN e.kind = 'activity'
              THEN COALESCE(l.label, 'other') ELSE e.kind END AS cat
  FROM eps e LEFT JOIN lab l
    ON e.host = l.host AND e.location_id = l.location_id
),
days AS (
  SELECT host, seq, cat, kind,
         su / 1000000.0 AS start_s, eu / 1000000.0 AS end_s,
         UNNEST(generate_series(
            date_trunc('day', make_timestamp(su)),
            date_trunc('day', make_timestamp(eu)),
            INTERVAL 1 DAY)) AS day0
  FROM labj
),
clip AS (
  SELECT host, seq, cat, kind, strftime(day0, '%Y-%m-%d') AS day,
         GREATEST(LEAST(end_s, epoch(day0) + 86400.0)
                  - GREATEST(start_s, epoch(day0)), 0.0) AS dur_s
  FROM days
)
SELECT host, day,
       ROUND(SUM(CASE WHEN cat = 'home' THEN dur_s ELSE 0 END), 6) AS home_s,
       ROUND(SUM(CASE WHEN cat = 'work' THEN dur_s ELSE 0 END), 6) AS work_s,
       ROUND(SUM(CASE WHEN cat = 'study' THEN dur_s ELSE 0 END), 6) AS study_s,
       ROUND(SUM(CASE WHEN cat = 'other' THEN dur_s ELSE 0 END), 6)
         AS other_activity_s,
       ROUND(SUM(CASE WHEN cat = 'travel' THEN dur_s ELSE 0 END), 6)
         AS travel_s,
       ROUND(SUM(CASE WHEN cat = 'unknown' THEN dur_s ELSE 0 END), 6)
         AS unknown_s,
       COUNT(DISTINCT CASE WHEN kind = 'activity' THEN seq END)
         AS n_activities
FROM clip GROUP BY host, day
""",
        "pagerank_hosts": f"""
WITH
{_pagerank_chain_sql()}
SELECT node, rank_q FROM r{_PR_ITERS}
""",
        "kmeans_assign": f"""
WITH
{_kmeans_chain_sql()}
SELECT vec_id, cl FROM a{_KMEANS_ITERS - 1}
""",
        "quality_classifier": _classifier_chain_sql(),
        # z-order layout keys: x5 extraction + the Hilbert-FSM encode
        # chain + parent-cell bit math, per-bucket locality stats
        "zorder_layout": f"""
WITH {_PAGES_CTE},
pts AS (
  SELECT TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE)
           AS lat,
         TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 2) AS DOUBLE)
           AS lon
  FROM pages
  WHERE lang IN ('en', 'fr', 'de')
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 1) AS DOUBLE)
        IS NOT NULL
    AND TRY_CAST(regexp_extract(text, '{_GEOTAG_RE_SQL}', 3) AS DOUBLE)
        <= {{min_acc}}
),
{{enc_chain}}
SELECT (cell_id & {{bmask}}) | {{blsb}} AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       min(lat) AS lat_lo, max(lat) AS lat_hi,
       min(lon) AS lon_lo, max(lon) AS lon_hi
FROM enc
GROUP BY 1
""".replace("{enc_chain}", _cell_encode_sql(12, src="pts",
                                            lat="lat", lon="lon"))
   .replace("{min_acc}", str(DEFAULT.min_accuracy_m))
   .replace("{bmask}", str(~(2 * (1 << 52) - 1)))
   .replace("{blsb}", str(1 << 52)),
        # CDC MERGE: same change stream, arg_max winner, ANTI JOIN + union
        "cdc_merge": """
WITH ch AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, 'U1:' || lang AS text, lang,
         'cdc' AS source, CAST(doc_id AS BIGINT) AS n_chars,
         'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'U2:' || source, lang, 'cdc', 0, 'U', 3
  FROM documents WHERE doc_id % 35 = 0
  UNION ALL
  SELECT doc_id, 'DEL', 'xx', 'cdc', 0, 'D', 2
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 10000, 'NEW:' || CAST(doc_id AS VARCHAR), 'en', 'cdc',
         0, 'I', 1
  FROM documents WHERE doc_id % 17 = 0
),
latest AS (
  SELECT doc_id, arg_max(text, seq) AS text, arg_max(lang, seq) AS lang,
         arg_max(source, seq) AS source,
         arg_max(n_chars, seq) AS n_chars, arg_max(op, seq) AS op
  FROM ch GROUP BY doc_id
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d ANTI JOIN latest l USING (doc_id)
UNION ALL
SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op != 'D'
""",
        # predicated MERGE replay: clause CASE on a LEFT JOIN (first true
        # clause wins; NULL source key = unmatched = keep) + ANTI JOIN
        # insert arm gated by the NOT MATCHED predicate
        "cdc_merge_pred": """
WITH src AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, 'M:' || lang AS text,
         CASE WHEN doc_id % 10 = 0 THEN 'zz' ELSE lang END AS lang,
         'hot' AS source,
         CAST(n_chars + CASE WHEN doc_id % 3 = 0 THEN 1000
                             ELSE -1000 END AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT CAST(doc_id + 20000 AS BIGINT), 'NEW', 'en', 'ins',
         CAST(doc_id AS BIGINT)
  FROM documents WHERE doc_id % 9 = 0
),
m AS (
  SELECT t.doc_id, t.text AS tt, t.lang AS tl, t.source AS tsrc,
         t.n_chars AS tn, s.doc_id AS sk, s.text AS st, s.lang AS sl,
         s.source AS ssrc, s.n_chars AS sn
  FROM documents t LEFT JOIN src s USING (doc_id)
),
acted AS (
  SELECT *, CASE WHEN sk IS NULL THEN 'keep'
                 WHEN sl = 'zz' THEN 'delete'
                 WHEN tn < sn THEN 'update'
                 ELSE 'keep' END AS act
  FROM m
)
SELECT doc_id,
       CASE WHEN act = 'update' THEN st ELSE tt END AS text,
       CASE WHEN act = 'update' THEN sl ELSE tl END AS lang,
       CASE WHEN act = 'update' THEN ssrc ELSE tsrc END AS source,
       CASE WHEN act = 'update' THEN sn ELSE tn END AS n_chars
FROM acted WHERE act != 'delete'
UNION ALL
SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
FROM src s ANTI JOIN documents t USING (doc_id)
WHERE s.n_chars % 2 = 0
""",
        # BPE trainer: all merge rounds replayed as chained CTEs
        "bpe_train": _bpe_train_sql(),
        # BPE encode: training chain + map-only merge application
        "bpe_encode": _bpe_encode_sql(),
        "kmeans_prune": f"""
WITH
{_kmeans_chain_sql()},
dd AS (
  SELECT a.vec_id, a.cl,
         list_reduce(list_transform(a.e, x -> x * x), (ac, b) -> ac + b)
         + (c.cc - 2.0 * list_reduce(
               list_transform(list_zip(a.e, c.e), s -> s[1] * s[2]),
               (ac, b) -> ac + b)) AS d2
  FROM a{_KMEANS_ITERS - 1} a
  JOIN cc{_KMEANS_ITERS - 1} c USING (cl)
)
SELECT vec_id, cl, rk FROM (
  SELECT vec_id, cl,
         CAST(row_number() OVER (PARTITION BY cl
                                 ORDER BY d2 ASC, vec_id ASC) AS BIGINT)
           AS rk,
         count(*) OVER (PARTITION BY cl) AS n_cl
  FROM dd
) WHERE rk <= CAST(ceil({_KMEANS_KEEP_FRAC!r} * n_cl) AS BIGINT)
""",
        "ann_topk_bruteforce": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_dot_product(a.e, b.e) / (a.nr * b.nr) AS sim
  FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id
)
SELECT a, b, CAST(rk AS BIGINT) AS rk FROM (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
  FROM p
) WHERE rk <= 3
""",
        # LSH ANN / near-dup: LSH band recall is 1.0 at the query params
        # (24 bands x 2 bits) on the driver corpus, so the exact all-pairs
        # twin IS the oracle — see q_ann_topk_lsh / q_cosine_near_dup
        # docstrings.  Cosines are bit-identical cross-engine (left-to-
        # right double folds), so rank and >=threshold decisions agree.
        "ann_topk_lsh": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_dot_product(a.e, b.e) / (a.nr * b.nr) AS sim
  FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id
)
SELECT a, b, CAST(rk AS BIGINT) AS rk FROM (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
  FROM p
) WHERE rk <= 3
""",
        "cosine_near_dup": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v)
SELECT a.vec_id AS a, b.vec_id AS b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nr * b.nr) >= 0.35
""",
        "ann_topk_ivf": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nr FROM v),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_dot_product(a.e, b.e) / (a.nr * b.nr) AS sim
  FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id
)
SELECT a, b, CAST(rk AS BIGINT) AS rk FROM (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
  FROM p
) WHERE rk <= 3
""",
        # dup-span removal replay: grams by string (hash-free — the Spark
        # side's xxhash64 key is identity-equivalent barring collision),
        # island merge as the classic running-max window, reconstruction
        # as an ordered FILTER string_agg over covered-index anti-matches
        "dedup_spans": f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
                             x -> x <> '') AS t
  FROM documents
),
pg AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(t) - {_SPAN_N - 1}, 0) + 1)) AS pos,
         unnest(list_transform(
           range(1, greatest(len(t) - {_SPAN_N - 1}, 0) + 1),
           i -> list_aggregate(t[i:i+{_SPAN_N - 1}], 'string_agg', ' ')))
           AS g
  FROM toks
),
dup AS (
  SELECT g FROM pg GROUP BY g HAVING count(*) >= {_SPAN_MIN_COUNT}
),
hits AS (
  SELECT doc_id, pos AS s, pos + {_SPAN_N - 1} AS e
  FROM pg WHERE g IN (SELECT g FROM dup)
),
fl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS nf
  FROM hits
),
isl AS (
  SELECT doc_id, s, e,
         sum(nf) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM fl
),
merged AS (
  SELECT doc_id, island, min(s) AS s, max(e) AS e
  FROM isl GROUP BY doc_id, island
),
nspans AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s + 1) AS n_removed
  FROM merged GROUP BY doc_id
),
tk AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS i
  FROM toks
),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS i FROM merged
),
clean AS (
  SELECT tk.doc_id,
         string_agg(tok, ' ' ORDER BY tk.i)
           FILTER (WHERE cov.i IS NULL) AS clean_text
  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.i = cov.i
  GROUP BY tk.doc_id
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(coalesce(nspans.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(nspans.n_removed, 0) AS BIGINT) AS n_removed,
       coalesce(clean.clean_text, '') AS clean_text
FROM toks
LEFT JOIN nspans ON toks.doc_id = nspans.doc_id
LEFT JOIN clean ON toks.doc_id = clean.doc_id
""",
        # paragraph dedup replay: same literal replace paragraph-izer,
        # winners by raw-text grouping (Spark keys the hash triple —
        # identical barring a 2^-190 collision), reassembly by string_agg
        # in position order; every input doc row survives via the base
        # left join even when all its paragraphs lost dedup.
        "dedup_paragraphs": """
WITH src AS (
  SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents
),
parts AS (
  SELECT doc_id, string_split(text, chr(10)) AS ps FROM src
),
paras AS (
  SELECT doc_id,
         unnest(range(1, len(ps) + 1)) - 1 AS pos,
         unnest(ps) AS para
  FROM parts
),
cand AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM paras WHERE len(para) >= 1
),
unioned AS (
  SELECT doc_id, pos, para, TRUE AS is_cand FROM cand WHERE rn = 1
  UNION ALL
  SELECT doc_id, pos, para, FALSE AS is_cand
  FROM paras WHERE len(para) < 1
),
agg AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY pos) AS text,
         count(*) FILTER (WHERE is_cand) AS n_kept
  FROM unioned GROUP BY doc_id
),
ncand AS (
  SELECT doc_id, count(*) AS n_cand FROM cand GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.text, '') AS text,
       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(ncand.n_cand, 0) - coalesce(agg.n_kept, 0) AS BIGINT)
         AS n_dropped
FROM (SELECT doc_id FROM documents) d
LEFT JOIN agg ON d.doc_id = agg.doc_id
LEFT JOIN ncand ON d.doc_id = ncand.doc_id
ORDER BY d.doc_id
""",
        # unigram-LM scoring replay: integer count sums + ONE double
        # division (exact operands, correctly-rounded IEEE divide -> the
        # value hash matches bit-for-bit)
        "unigram_lm_score": _UNIGRAM_SQL,
        "tpch_q6": """
SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
        # Q4 shape: correlated EXISTS (decorrelated to a semi-join on
        # the Spark side; DuckDB runs the same logical query natively)
        "tpch_q4": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
        # Q13 shape: filtered LEFT OUTER join + two-level aggregation
        "tpch_q13": """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
""",
        # Q18 shape: HAVING semi-join + re-aggregate + deterministic top-k
        "tpch_q18": """
SELECT c.c_custkey, o.o_orderkey,
       CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c.c_custkey, o.o_orderkey
ORDER BY total_qty DESC, o.o_orderkey
LIMIT 100
""",
        # WITH RECURSIVE: identical recursion replayed by DuckDB
        "recursive_cte": """
WITH RECURSIVE reach(seed, node, hop) AS (
  SELECT user_id AS seed, user_id AS node, 0 AS hop
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0)
  UNION ALL
  SELECT seed, u.n AS node, hop + 1
  FROM reach, unnest([(node * 17 + 29) % 150,
                      (node * 31 + 7) % 150]) AS u(n)
  WHERE hop < 4
)
SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
       CAST(min(hop) AS BIGINT) AS min_hop,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY seed, node
""",
        # co-located bucketed join: the bucketing only changes the
        # physical layout, so the oracle is the logical join/agg
        "bucketed_join": """
SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
       max(c.n_orders) AS n_orders
FROM events e
JOIN (SELECT CAST(o_custkey AS BIGINT) AS custkey,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey) c
  ON e.user_id = c.custkey
GROUP BY e.user_id
""",
        # FULL OUTER reconciliation of two pre-aggregated entity tables
        "j7_full_outer": """
SELECT COALESCE(e.user_id, c.c_custkey) AS key_id, n_events, n_orders,
       CASE WHEN e.user_id IS NULL THEN 'customer_only'
            WHEN c.c_custkey IS NULL THEN 'user_only'
            ELSE 'both' END AS side
FROM (SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id) e
FULL OUTER JOIN
     (SELECT CAST(o_custkey AS BIGINT) AS c_custkey,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey) c
  ON e.user_id = c.c_custkey
""",
        # exact robust/order-statistic aggregates (min_by/max_by on a
        # deterministic tie order, count_if, bool/bitwise reductions,
        # sorted-distinct set as string)
        "a10_robust_aggs": """
WITH r AS (
  SELECT event_type, event_id, value, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rmin,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id DESC) AS rmax
  FROM events
)
SELECT event_type,
       CAST(max(CASE WHEN rmin = 1 THEN event_id END) AS BIGINT)
         AS min_val_eid,
       CAST(max(CASE WHEN rmax = 1 THEN event_id END) AS BIGINT)
         AS max_val_eid,
       CAST(count(*) FILTER (value > 0.5) AS BIGINT) AS n_hi,
       bool_and(value >= 0.0) AS all_nonneg,
       bool_or(user_id = 0) AS has_user0,
       bit_and(CAST(event_id AS BIGINT)) AS ids_and,
       bit_or(CAST(event_id AS BIGINT)) AS ids_or,
       bit_xor(CAST(event_id AS BIGINT)) AS ids_xor,
       array_to_string(list_sort(list_distinct(
         list(CAST(user_id % 7 AS BIGINT)))), ',') AS user_buckets
FROM r GROUP BY event_type
""",
        # RANGE frame: trailing 1h over epoch-microsecond int64 order key
        "w6_range_frame": """
SELECT event_id,
       count(*) OVER w AS n_trail_1h,
       CAST(sum(event_id) OVER w AS BIGINT) AS sum_ids_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
        # ranking family over a deterministic (value, event_id) order;
        # percent_rank/cume_dist are single integer-ratio IEEE divisions
        "w7_rank_family": """
SELECT event_id,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
        # GROUPING SETS: four granularities in one pass; per-column
        # grouping() flags (grouping_id bit order is engine-specific)
        "a9_grouping_sets": """
SELECT user_id % 10 AS user_bucket, event_type,
       CAST(grouping(user_id % 10) AS BIGINT) AS g_bucket,
       CAST(grouping(event_type) AS BIGINT) AS g_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY GROUPING SETS ((user_id % 10, event_type),
                        (user_id % 10), (event_type), ())
""",
        # NOT IN subquery: null-aware anti join (three-valued logic)
        "naaj_not_in": """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'F')
GROUP BY c_mktsegment
""",
        # Q21 shape: correlated EXISTS + NOT EXISTS in one block
        # (decorrelated to a LeftSemi AND a LeftAnti on the Spark side;
        # DuckDB runs the same logical query natively)
        # Q17 shape: correlated SCALAR subquery (decorrelated to one
        # per-part aggregate on the Spark side; DuckDB runs it natively).
        # l_quantity is integer-valued so the correlated avg is exact.
        "tpch_q8": _TPCH_Q8_SQL.format(**{t: t for t in
            ["lineitem", "part", "supplier", "orders", "customer",
             "nation", "region"]}),
        "tpch_q11": _TPCH_Q11_SQL.format(**{t: t for t in
            ["lineitem", "supplier", "nation"]}),
        "tpch_q15": _TPCH_Q15_SQL.format(**{t: t for t in
            ["lineitem", "supplier"]}),
        "tpch_q16": _TPCH_Q16_SQL.format(**{t: t for t in
            ["lineitem", "part", "supplier"]}),
        "tpch_q7": _TPCH_Q7_SQL.format(**{t: t for t in
            ["lineitem", "supplier", "orders", "customer", "nation"]}),
        "tpch_q9": _TPCH_Q9_SQL.format(**{t: t for t in
            ["lineitem", "part", "supplier", "nation"]}),
        "tpch_q10": _TPCH_Q10_SQL.format(**{t: t for t in
            ["customer", "orders", "lineitem", "nation"]}),
        "tpch_q12": _TPCH_Q12_SQL.format(**{t: t for t in
            ["orders", "lineitem"]}),
        "tpch_q14": _TPCH_Q14_SQL.format(**{t: t for t in
            ["lineitem", "part"]}),
        "tpch_q19": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND ((p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
        AND l.l_quantity BETWEEN 1 AND 11)
    OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
        AND l.l_quantity BETWEEN 10 AND 20)
    OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 35
        AND l.l_quantity BETWEEN 20 AND 30))
""",
        "tpch_q20": """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE '%gear%')
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 100)
ORDER BY s_suppkey
""",
        "tpch_q17": """
SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND p.p_brand = 'Brand#1'
  AND p.p_size < 15
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
""",
        # raw-double equality against the min over the joined dims; the
        # ORDER BY covers a unique key so the LIMIT prefix is stable
        "tpch_q2": """
SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
                p.p_name, l.l_extendedprice AS min_price
FROM part p, supplier s, lineitem l, nation n, region r
WHERE p.p_partkey = l.l_partkey
  AND s.s_suppkey = l.l_suppkey
  AND p.p_size = 15
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND l.l_extendedprice = (
    SELECT min(l2.l_extendedprice)
    FROM lineitem l2, supplier s2, nation n2, region r2
    WHERE l2.l_partkey = p.p_partkey
      AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
""",
        # floor-cents int64 balances: exact integer sums both sides of
        # the uncorrelated scalar threshold, one IEEE division
        "tpch_q22": """
SELECT c.c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer c
WHERE c.c_nationkey IN (0, 3, 7, 11, 14, 17, 21)
  AND CAST(floor(c.c_acctbal * 100) AS BIGINT) > (
    SELECT CAST(sum(CAST(floor(c2.c_acctbal * 100) AS BIGINT))
                AS DOUBLE) / count(*)
    FROM customer c2
    WHERE c2.c_acctbal > 0.0
      AND c2.c_nationkey IN (0, 3, 7, 11, 14, 17, 21))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c.c_nationkey
""",
        "tpch_q21": """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s, lineitem l1, orders o, nation n
WHERE s.s_suppkey = l1.l_suppkey
  AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
  AND s.s_nationkey = n.n_nationkey
  AND n.n_name < 'NATION_3'
GROUP BY s_name
""",
        # sketch gates: the oracle pins the EXACT quantity and the
        # contract (ok must be TRUE); the approximate value itself is
        # engine-private (HLL++/GK sketches are not replayable)
        "sketch_gates": """
SELECT 'hll_user_id' AS gate,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n, TRUE AS ok
FROM events
UNION ALL
SELECT 'hll_partkey', CAST(count(DISTINCT l_partkey) AS BIGINT), TRUE
FROM lineitem
UNION ALL
SELECT 'pctl_value_p50', CAST(count(value) AS BIGINT), TRUE FROM events
""",
        # int8 scalar quantization: one division, one multiply, one floor
        # per element — correctly-rounded IEEE replay, bit-exact
        "embed_quantize": """
SELECT vec_id, CAST(dim - 1 AS INT) AS dim,
       CAST(CASE WHEN mx = 0.0 THEN 0
                 ELSE floor(x / mx * 127.0 + 0.5) END AS INT) AS q
FROM (
  SELECT vec_id,
         generate_subscripts(e, 1) AS dim, unnest(e) AS x,
         list_max(list_transform(e, v -> abs(v))) AS mx
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
)
""",
        # PQ ANN: four subspace Lloyd chains + code join + LUT-sum ADC
        "pq_adc_topk": f"WITH\n{_pq_chain_sql()}",
        # BM25: same expression tree (idf ratio, 2.2/1.2/0.25/0.75
        # literals, avgdl division) and a pinned-order per-doc fold;
        # 0.0-seeded to mirror Spark's aggregate init
        "bm25_topk": f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')) AS token
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total
  FROM dl
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in
                                       sorted(set(_BM25_TERMS)))})
  GROUP BY doc_id, token
),
dfq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
),
c AS (
  SELECT tf.doc_id, tf.token,
         ((((st.n - dfq.df) + 0.5) / (dfq.df + 0.5))
          * (CAST(tf.tf AS DOUBLE) * {_BM25_K1 + 1.0!r}))
         / (CAST(tf.tf AS DOUBLE)
            + {_BM25_K1!r} * ({1.0 - _BM25_B!r}
                              + {_BM25_B!r} * (CAST(dl.dl AS DOUBLE)
                                 / (CAST(st.total AS DOUBLE) / st.n))))
           AS v
  FROM tf JOIN dl USING (doc_id) CROSS JOIN st JOIN dfq USING (token)
),
sc AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0, list(v ORDER BY token)),
                     (a, b) -> a + b) AS score
  FROM c GROUP BY doc_id
)
SELECT doc_id, score, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM sc)
WHERE rk <= {_BM25_K}
""",
        # IVFPQ: coarse chain + grid-rounded residuals + residual PQ
        "ivfpq_topk": f"WITH\n{_ivfpq_chain_sql()}",
        # IVFPQ production-nprobe gate: n_truth10 is a true SQL
        # computation (exact-L2 top-10 pair count; the count is
        # tie-insensitive); the floors are 1.0 literals pinning the
        # measured margins (see q_ivfpq_recall docstring).
        "ivfpq_recall": f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id % {_PQ_QMOD} = 0),
p AS (
  SELECT q.vec_id AS a, d.vec_id AS b,
         list_dot_product(q.e, q.e) + list_dot_product(d.e, d.e)
         - 2 * list_dot_product(q.e, d.e) AS d2
  FROM q CROSS JOIN v d WHERE q.vec_id <> d.vec_id
),
t10 AS (
  SELECT a, b FROM (
    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY d2 ASC, b) AS rk
    FROM p) WHERE rk <= 10
)
SELECT 'n_truth10' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM t10
UNION ALL SELECT 'prec_in_top10_floor_0.70_met', 1.0
UNION ALL SELECT 'exh_recall_floor_0.60_met', 1.0
""",
        # mixture resample replay: fractions recomputed from the same
        # counts with the same double ops ((w * n_out) / n), LCG keep rule
        "resample_mixture": f"""
WITH wts AS (
  SELECT * FROM (VALUES {", ".join(
      f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in _MIX_W.items())})
    w(source, w)
),
cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE source IN ({", ".join(
      f"'{s}'" for s in _MIX_W)})
  GROUP BY source
),
j AS (SELECT cnt.source, n, w FROM cnt JOIN wts ON cnt.source = wts.source),
nn AS (SELECT min(n / w) AS n_out FROM j),
fr AS (SELECT source, (w * n_out) / n AS f FROM j CROSS JOIN nn)
SELECT d.doc_id, d.source
FROM documents d JOIN fr ON d.source = fr.source
WHERE ((CAST(d.doc_id AS BIGINT) * 2654435761 + 97) % 2147483648)
      < f * 2147483648
""",
        # CCNet bucket split: deterministic (score desc, id) ntile over
        # the shared scoring subquery
        "quality_buckets": f"""
SELECT doc_id, score,
       CAST(ntile(3) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS bucket
FROM ({_UNIGRAM_SQL})
""",
        # strided window slicing; parallel unnests zip positionally
        "chunk_documents": _CHUNK_SQL,
        # GPT-style sequence packing: per-source token-stream cumsum,
        # floor-division bin spans, byte-exact token slices
        "pack_sequences": f"""
WITH tok AS (
  SELECT source, doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\W+'),
                     t -> t != '') AS toks
  FROM documents
),
sz AS (
  SELECT source, doc_id, toks, CAST(len(toks) AS BIGINT) AS n
  FROM tok WHERE len(toks) > 0
),
off AS (
  SELECT source, doc_id, toks, n,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS o
  FROM sz
),
b AS (
  SELECT source, doc_id, toks, n, o,
         unnest(generate_series(o // {_PACK_CAP},
                                (o + n - 1) // {_PACK_CAP})) AS bin_id
  FROM off
)
SELECT source, CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       GREATEST(bin_id * {_PACK_CAP}, o) - o AS start_tok,
       LEAST((bin_id + 1) * {_PACK_CAP}, o + n)
         - GREATEST(bin_id * {_PACK_CAP}, o) AS n_tok,
       array_to_string(
         list_slice(toks,
                    CAST(GREATEST(bin_id * {_PACK_CAP}, o) - o + 1 AS INT),
                    CAST(LEAST((bin_id + 1) * {_PACK_CAP}, o + n) - o AS INT)),
         ' ') AS piece
FROM b
""",
        # MG at k >= vocab is provably the exact counts (no eviction),
        # so the oracle is a plain tokenize + count
        "heavy_hitters": r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS est FROM toks GROUP BY token
""",
        # exact-side scalars are real SQL; the sketch-side guarantee
        # booleans are pinned at 1.0 (recall-gate pattern) — bound is
        # n/(k+1) with k interpolated from the shared constant
        "heavy_hitters_gate": rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> x <> '')) AS token
  FROM documents
),
c AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab FROM c)
SELECT 'n_tokens' AS metric, CAST(n_tokens AS DOUBLE) AS value FROM tot
UNION ALL SELECT 'vocab', CAST(vocab AS DOUBLE) FROM tot
UNION ALL SELECT 'n_guaranteed',
  CAST((SELECT count(*) FROM c, tot
        WHERE c.n > tot.n_tokens / {_MG_K_LOSSY + 1}.0) AS DOUBLE)
UNION ALL SELECT 'sketch_size_le_k', 1.0
UNION ALL SELECT 'underestimate_ok', 1.0
UNION ALL SELECT 'guaranteed_present', 1.0
UNION ALL SELECT 'bound_met', 1.0
""",
        # integer epoch-micros bucket math, last-value pick replayed with
        # a dual-order row_number (DuckDB arg_max can't take a composite
        # tie-breaker), LOCF via IGNORE NULLS window
        "gapfill_locf": """
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         epoch_us(ts) // 3600000000 AS bucket
  FROM events
),
pb AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events
       FROM e GROUP BY 1, 2),
r AS (SELECT user_id, bucket, value,
             row_number() OVER (PARTITION BY user_id, bucket
                                ORDER BY us DESC, event_id DESC) AS rk
      FROM e),
lv AS (SELECT user_id, bucket, value AS last_val FROM r WHERE rk = 1),
span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
         FROM e GROUP BY 1),
spine AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
          FROM span),
f AS (SELECT s.user_id, s.bucket, pb.n_events, lv.last_val
      FROM spine s
      LEFT JOIN pb ON s.user_id = pb.user_id AND s.bucket = pb.bucket
      LEFT JOIN lv ON s.user_id = lv.user_id AND s.bucket = lv.bucket)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       last_value(last_val IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS val_locf,
       CAST(n_events IS NULL AS BIGINT) AS is_gap
FROM f
""",
        # same spine/fold as gapfill_locf; the lerp is replayed with the
        # identical IEEE expression tree (raw value pair, integer bucket
        # distances cast to double) so float cells hash-match
        "gapfill_interp": """
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         epoch_us(ts) // 3600000000 AS bucket
  FROM events
),
pb_ AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events
        FROM e GROUP BY 1, 2),
r AS (SELECT user_id, bucket, value,
             row_number() OVER (PARTITION BY user_id, bucket
                                ORDER BY us DESC, event_id DESC) AS rk
      FROM e),
lv AS (SELECT user_id, bucket, value AS last_val FROM r WHERE rk = 1),
span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
         FROM e GROUP BY 1),
spine AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
          FROM span),
f AS (SELECT s.user_id, s.bucket, pb_.n_events, lv.last_val
      FROM spine s
      LEFT JOIN pb_ ON s.user_id = pb_.user_id AND s.bucket = pb_.bucket
      LEFT JOIN lv ON s.user_id = lv.user_id AND s.bucket = lv.bucket),
g AS (
  SELECT user_id, bucket, n_events, last_val,
         last_value(last_val IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN last_val IS NOT NULL THEN bucket END
                    IGNORE NULLS) OVER wp AS pb,
         first_value(last_val IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN last_val IS NOT NULL THEN bucket END
                     IGNORE NULLS) OVER wn AS nb
  FROM f
  WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       CASE WHEN last_val IS NOT NULL THEN last_val
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
                                   / CAST(nb - pb AS DOUBLE))
       END AS val_interp,
       CAST(n_events IS NULL AS BIGINT) AS is_gap
FROM g
""",
        # melt replayed as UNION ALL; min/max are raw column picks, the
        # sum is floor-cents int64 (order-independent)
        "unpivot_melt": """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure, CAST(count(*) AS BIGINT) AS n_rows,
       min(val) AS min_val, max(val) AS max_val,
       CAST(sum(CAST(floor(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM long GROUP BY measure
""",
        # identical LATERAL text runs in DuckDB (dependent join);
        # deterministic tie order makes the top-3 sets equal
        "lateral_topk": """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
""",
        # the salted join's contract IS the plain inner join
        "salted_join": """
SELECT e.event_id, e.user_id AS c_custkey, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
        # batch replay of the streaming CDC fold: per-key max-seq winner
        # (seq = event_id, unique, so arg_max has no ties), deletes drop;
        # batch boundaries are immaterial because the fold is associative
        "stream_cdc_upsert": """
WITH ch AS (
  SELECT user_id AS k, value AS v, event_type AS etype, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
latest AS (
  SELECT k, arg_max(v, seq) AS v, arg_max(etype, seq) AS etype,
         arg_max(op, seq) AS op
  FROM ch GROUP BY k
)
SELECT k, v, etype FROM latest WHERE op != 'D'
""",
        # both time-travel views replayed as max-seq folds over the
        # matching seq slices (seq unique -> arg_max tie-free)
        # incremental view maintenance: the oracle is the from-scratch
        # recompute over the final folded state — per-key max-seq winner
        # (arg_max on the full struct), delete winners dropped; int64
        # cents make the sums order-independent
        "cdc_incr_agg": """
WITH ch AS (
  SELECT user_id AS k, event_type AS g,
         CAST(floor(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_id AS seq
  FROM events
),
w AS (
  SELECT k, g, v, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rk
  FROM ch
),
head AS (SELECT k, g, v FROM w WHERE rk = 1 AND op <> 'D')
SELECT g, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(v) AS BIGINT) AS total
FROM head GROUP BY g
""",
        "partition_evolution": """
SELECT CAST(0 AS INT) AS gen_id, event_id, user_id
FROM events
WHERE event_id % 2 = 0 AND strftime(ts, '%Y-%m-%d') = '2024-01-03'
UNION ALL
SELECT CAST(1 AS INT) AS gen_id, event_id, user_id
FROM events
WHERE event_id % 2 = 1 AND strftime(ts, '%Y-%m-%d') = '2024-01-03'
  AND ((user_id % 8) + 8) % 8 = 3
ORDER BY event_id
""",
        "cdc_schema_evolution": """
WITH ch AS (
  SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS src,
         CAST(NULL AS BIGINT) AS wc, 'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, lang, source AS src, CAST(NULL AS BIGINT) AS wc, 'U', 2
  FROM documents WHERE doc_id % 3 = 1 OR doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, lang, source AS src, CAST(len(text) AS BIGINT) AS wc,
         CASE WHEN doc_id % 15 = 0 THEN 'D' ELSE 'U' END, 3
  FROM documents WHERE doc_id % 5 = 0
),
w AS (
  SELECT doc_id, lang, src, wc, op,
         row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rk
  FROM ch
)
SELECT doc_id, lang, src, wc FROM w WHERE rk = 1 AND op <> 'D'
ORDER BY doc_id
""",
        "cdc_incr_minmax": """
WITH ch AS (
  SELECT user_id AS k, event_type AS g,
         CAST(floor(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_id AS seq
  FROM events
),
w AS (
  SELECT k, g, v, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rk
  FROM ch
),
head AS (SELECT k, g, v FROM w WHERE rk = 1 AND op <> 'D')
SELECT g, min(v) AS mn, max(v) AS mx, CAST(count(*) AS BIGINT) AS cnt
FROM head GROUP BY g
""",
        # SCD2: the change log replayed wave-for-wave, versioned with
        # ONE lead() window; all-integer/string payload -> value-hash
        # exact.  scd2_apply shares the oracle: apply == rebuild is the
        # contract under test.
        "scd2_build": """
WITH ch AS (
  SELECT doc_id, 'V1:' || lang AS text, 'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'V2:' || source, 'U', 2
  FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id + 10000, 'NEW:' || CAST(doc_id AS VARCHAR), 'I', 2
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, 'DEL', 'D', 3
  FROM documents WHERE doc_id % 21 = 0
  UNION ALL
  SELECT doc_id, 'V3:' || CAST(doc_id AS VARCHAR), 'I', 4
  FROM documents WHERE doc_id % 42 = 0
),
v AS (
  SELECT doc_id, text, op, seq,
         lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS eff_to
  FROM ch
)
SELECT doc_id, text, CAST(seq AS INT) AS eff_from,
       CAST(COALESCE(eff_to, -1) AS INT) AS eff_to,
       CAST(eff_to IS NULL AS BIGINT) AS is_current
FROM v WHERE op <> 'D'
""",
        "scd2_apply": """
WITH ch AS (
  SELECT doc_id, 'V1:' || lang AS text, 'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'V2:' || source, 'U', 2
  FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id + 10000, 'NEW:' || CAST(doc_id AS VARCHAR), 'I', 2
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, 'DEL', 'D', 3
  FROM documents WHERE doc_id % 21 = 0
  UNION ALL
  SELECT doc_id, 'V3:' || CAST(doc_id AS VARCHAR), 'I', 4
  FROM documents WHERE doc_id % 42 = 0
),
v AS (
  SELECT doc_id, text, op, seq,
         lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS eff_to
  FROM ch
)
SELECT doc_id, text, CAST(seq AS INT) AS eff_from,
       CAST(COALESCE(eff_to, -1) AS INT) AS eff_to,
       CAST(eff_to IS NULL AS BIGINT) AS is_current
FROM v WHERE op <> 'D'
""",
        "cdc_time_travel": """
WITH ch AS (
  SELECT user_id AS k, value AS v, event_type AS etype, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
tot AS (SELECT max(seq) AS mx FROM ch),
f1 AS (
  SELECT k, arg_max(v, seq) AS v, arg_max(etype, seq) AS etype,
         arg_max(op, seq) AS op
  FROM ch, tot WHERE seq <= (2 * mx) // 3 GROUP BY k
),
f3 AS (
  SELECT k, arg_max(v, seq) AS v, arg_max(etype, seq) AS etype,
         arg_max(op, seq) AS op
  FROM ch GROUP BY k
)
SELECT CAST(1 AS BIGINT) AS snap, k, v, etype FROM f1 WHERE op != 'D'
UNION ALL
SELECT CAST(3 AS BIGINT) AS snap, k, v, etype FROM f3 WHERE op != 'D'
""",
        # snapshot diff: both folds + full-outer IS DISTINCT FROM diff
        "cdc_snapshot_diff": """
WITH ch AS (
  SELECT user_id AS k, value AS v, event_type AS etype, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
tot AS (SELECT max(seq) AS mx FROM ch),
f1 AS (
  SELECT k, arg_max(v, seq) AS v, arg_max(etype, seq) AS etype,
         arg_max(op, seq) AS op
  FROM ch, tot WHERE seq <= (2 * mx) // 3 GROUP BY k
),
f3 AS (
  SELECT k, arg_max(v, seq) AS v, arg_max(etype, seq) AS etype,
         arg_max(op, seq) AS op
  FROM ch GROUP BY k
),
a AS (SELECT k, v, etype FROM f1 WHERE op != 'D'),
b AS (SELECT k, v, etype FROM f3 WHERE op != 'D')
SELECT COALESCE(a.k, b.k) AS k,
       CASE WHEN a.k IS NULL THEN 'I'
            WHEN b.k IS NULL THEN 'D' ELSE 'U' END AS op,
       a.v AS old_v, b.v AS new_v,
       a.etype AS old_etype, b.etype AS new_etype
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.v IS DISTINCT FROM b.v OR a.etype IS DISTINCT FROM b.etype
ORDER BY k
""",
        # sweep-line max concurrency: +1/-1 decomposition, closings sort
        # before openings at the same instant (delta ASC)
        "interval_coverage": f"""
WITH {_SESSION_CTE.strip()},
ses AS (
  SELECT user_id % 10 AS bucket,
         CAST(epoch_us(CAST(min(ts) AS TIMESTAMP)) AS BIGINT) AS s_us,
         CAST(epoch_us(CAST(max(ts) AS TIMESTAMP)) AS BIGINT) AS e_us
  FROM sess GROUP BY user_id, subset_id
),
pts AS (
  SELECT bucket, s_us AS ts_us, CAST(1 AS BIGINT) AS delta FROM ses
  UNION ALL
  SELECT bucket, e_us AS ts_us, CAST(-1 AS BIGINT) AS delta FROM ses
),
run AS (
  SELECT bucket,
         CAST(sum(delta) OVER (PARTITION BY bucket ORDER BY ts_us, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS live
  FROM pts
)
SELECT bucket, CAST(max(live) AS BIGINT) AS max_concurrent
FROM run GROUP BY bucket
""",
        # 2-D skyline: per-x max y staircase, strict prefix-max filter
        "skyline_2d": """
WITH pts AS (
  SELECT event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
best AS (
  SELECT event_type, ts_us, CAST(max(value_cents) AS BIGINT) AS value_cents
  FROM pts GROUP BY event_type, ts_us
),
stair AS (
  SELECT event_type, ts_us, value_cents,
         max(value_cents) OVER (PARTITION BY event_type ORDER BY ts_us DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
  FROM best
)
SELECT event_type, ts_us, value_cents
FROM stair WHERE prevmax IS NULL OR value_cents > prevmax
""",
        # DISTINCT windowed aggregates (native in DuckDB; the Spark side
        # implements them via collect_set window state)
        "w8_count_distinct_window": """
SELECT event_id,
       CAST(count(DISTINCT user_id) OVER (PARTITION BY event_type)
            AS BIGINT) AS n_users_total,
       CAST(count(DISTINCT user_id) OVER (PARTITION BY event_type
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_users_seen
FROM events
""",
        # multi-source BFS: UNION-distinct recursive walk states capped at
        # _BFS_ROUNDS hops; min(dist) over walk states == first-reach round
        "bfs_distances": f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
           (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES} AS dst
    FROM documents
  ) WHERE src != dst
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
walk(node, dist) AS (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 17 = 0
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < {_BFS_ROUNDS}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node
""",
        # exact set-similarity by DEFINITION: intersection counts via the
        # co-token pair join + the identical integer threshold predicate
        # (prefix filtering is engine-side only; the pair SET is equal)
        "jaccard_prefix_join": rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
),
sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
e AS (SELECT doc_id, unnest(s) AS tok FROM sh),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM e x JOIN e y ON x.tok = y.tok AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, CAST(i.i AS BIGINT) AS inter_size,
       CAST(sa.n + sb.n - i.i AS BIGINT) AS union_size
FROM inter i
JOIN sz sa ON sa.doc_id = i.a
JOIN sz sb ON sb.doc_id = i.b
WHERE 100 * i.i >= {_JPJ_TAU_PCT} * (sa.n + sb.n - i.i)
""",
        # triangle counting by DEFINITION: canonical u<v<w three-way join
        # over the deduped undirected edge set (the engine's degree-ordered
        # orientation finds the identical triangle set)
        "k_core": _kcore_oracle_sql(),
        "label_propagation": _lpa_oracle_sql(),
        # bottom-k by portable hash: identical rank + filter
        "sample_bottomk": """
WITH h AS (
  SELECT event_type, event_id,
         CAST('0x' || substr(md5('bk|' || CAST(event_id AS VARCHAR)),
              1, 15) AS BIGINT) AS hh
  FROM events
),
r AS (
  SELECT event_type, event_id,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY hh, event_id) AS BIGINT) AS sample_rank
  FROM h
)
SELECT event_type, event_id, sample_rank FROM r WHERE sample_rank <= 5
""",
        # ROLLUP completes the grouping family
        "a9_rollup": """
SELECT event_type, bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v_cents) AS BIGINT) AS sum_cents,
       CAST(grouping(event_type) AS BIGINT) AS g_type,
       CAST(grouping(bucket) AS BIGINT) AS g_bucket
FROM (SELECT event_type, user_id % 10 AS bucket,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
      FROM events)
GROUP BY ROLLUP (event_type, bucket)
""",
        # band join by DEFINITION: per-key inequality join (the banding
        # rewrite is engine-side only; the pair set is equal)
        "band_join": f"""
WITH d AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
)
SELECT a.event_type, a.event_id AS a_id, b.event_id AS b_id,
       a.v AS a_v, b.v AS b_v, b.v - a.v AS diff
FROM d a JOIN d b
  ON b.event_type = a.event_type
 AND abs(b.v - a.v) <= {_BAND_DELTA}
 AND a.event_id < b.event_id
""",
        # discrete quantiles: actual population values, BIGINT-exact
        "quantiles_disc": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(quantile_disc(v, 0.25) AS BIGINT) AS p25,
       CAST(quantile_disc(v, 0.5) AS BIGINT) AS p50,
       CAST(quantile_disc(v, 0.9) AS BIGINT) AS p90
FROM d GROUP BY event_type
""",
        # HLL inclusion-exclusion overlap: exact evidence + the literal
        # bound gate (TRUE is the oracle's claim, the sketch_gates shape)
        "audience_overlap_hll": """
WITH m AS (SELECT DISTINCT event_type AS s, user_id AS u FROM events),
p AS (SELECT * FROM (VALUES ('click', 'view'), ('purchase', 'view'),
                            ('click', 'error')) AS t(seg_a, seg_b)),
i AS (
  SELECT p.seg_a, p.seg_b, CAST(count(*) AS BIGINT) AS true_inter
  FROM p JOIN m a ON a.s = p.seg_a JOIN m b
    ON b.s = p.seg_b AND b.u = a.u
  GROUP BY p.seg_a, p.seg_b
),
sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY s)
SELECT i.seg_a, i.seg_b, i.true_inter, sa.n AS n_a, sb.n AS n_b,
       TRUE AS within_bound
FROM i JOIN sz sa ON sa.s = i.seg_a JOIN sz sb ON sb.s = i.seg_b
""",
        # analytics composition: funnel + cohort + rollup as one pipeline
        "engagement_report": f"""
WITH ev AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS rn,
         event_type
  FROM events
  WHERE event_type IN ('{_FUNNEL_STEPS[0]}', '{_FUNNEL_STEPS[1]}',
                       '{_FUNNEL_STEPS[2]}')
  QUALIFY rn <= 6
),
s1 AS (SELECT user_id, min(rn) AS r1 FROM ev
       WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.rn) AS r2 FROM ev e
       JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.rn > s1.r1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.rn) AS r3 FROM ev e
       JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.rn > s2.r2
       GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM ev),
fun AS (
  SELECT u.user_id,
         CASE WHEN s3.r3 IS NOT NULL THEN 3
              WHEN s2.r2 IS NOT NULL THEN 2
              WHEN s1.r1 IS NOT NULL THEN 1 ELSE 0 END AS n_steps
  FROM u
  LEFT JOIN s1 ON s1.user_id = u.user_id
  LEFT JOIN s2 ON s2.user_id = u.user_id
  LEFT JOIN s3 ON s3.user_id = u.user_id
),
coh AS (
  SELECT user_id,
         min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
             // {3600 * 1_000_000}) AS cohort_bucket
  FROM events GROUP BY user_id
),
j AS (
  SELECT coh.cohort_bucket,
         coalesce(fun.n_steps, 0) AS n_steps
  FROM coh LEFT JOIN fun ON fun.user_id = coh.user_id
)
SELECT cohort_bucket, CAST(n_steps AS BIGINT) AS n_steps,
       CAST(count(*) AS BIGINT) AS n_users
FROM j GROUP BY cohort_bucket, n_steps
""",
        # multi-format staging parity: json/csv reads must equal parquet
        "multiformat_source": """
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         CAST(sum(event_id) AS BIGINT) AS sum_ids
  FROM events GROUP BY event_type
)
SELECT f.source_format, g.event_type, g.n, g.sum_cents, g.sum_ids
FROM g CROSS JOIN (SELECT unnest(['json', 'csv']) AS source_format) f
""",
        # data-quality suite: one row per check, exact violation counts
        "dq_checks": """
SELECT 'pk_unique_event_id' AS "check",
       CAST(coalesce((SELECT sum(c) FROM (
          SELECT count(*) AS c FROM events GROUP BY event_id) WHERE c > 1),
          0) AS BIGINT) AS n_violations,
       (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total
UNION ALL
SELECT 'fk_user_in_customer',
       CAST((SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id)) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM events)
UNION ALL
SELECT 'not_null_event_type',
       CAST((SELECT count(*) FROM events WHERE event_type IS NULL)
            AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM events)
UNION ALL
SELECT 'range_value_positive',
       CAST((SELECT count(*) FROM events WHERE value <= 0) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM events)
UNION ALL
SELECT 'purchase_has_value',
       CAST((SELECT count(*) FROM events
             WHERE event_type = 'purchase' AND value <= 0) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM events)
""",
        # MDM survivorship: per-column last-non-null windows + final row
        "golden_record": """
WITH d AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS tsu,
         CAST(event_id AS BIGINT) AS eid,
         CASE WHEN event_id % 3 = 0
              THEN 'e' || CAST(event_id AS VARCHAR) END AS email,
         CASE WHEN event_id % 5 = 0 THEN event_type END AS segment
  FROM events
),
f AS (
  SELECT user_id, tsu,
         last_value(email IGNORE NULLS) OVER w AS email,
         last_value(segment IGNORE NULLS) OVER w AS segment,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY tsu DESC, eid DESC) AS rk
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, email, segment, tsu AS last_ts_us FROM f WHERE rk = 1
""",
        # MAD: two shared-interpolation percentile passes
        "mad_scale": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         quantile_cont(v, 0.5) AS med
  FROM d GROUP BY event_type
)
SELECT m.event_type, m.n, m.med,
       quantile_cont(abs(CAST(d.v AS DOUBLE) - m.med), 0.5) AS mad
FROM d JOIN m ON m.event_type = d.event_type
GROUP BY m.event_type, m.n, m.med
""",
        # Benford profile: string-head digits, exact counts
        "benford_digits": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
),
p AS (
  SELECT event_type,
         CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM d WHERE v > 0
),
c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n_d
      FROM p GROUP BY event_type, digit),
t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
      FROM p GROUP BY event_type),
x AS (SELECT event_type,
             CAST(sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_excluded
      FROM d GROUP BY event_type)
SELECT c.event_type, c.digit, c.n_d, t.n_total, x.n_excluded,
       CAST(c.n_d AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS obs_freq
FROM c
JOIN t ON t.event_type = c.event_type
JOIN x ON x.event_type = c.event_type
""",
        # max drawdown: runmax window + two-level tie agg (max dd, then
        # max peak among rows attaining it)
        "max_drawdown": """
WITH d AS (
  SELECT user_id,
         CAST(max(CAST(floor(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pk,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
dd AS (SELECT user_id, pk, pk - v AS dd FROM d),
g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(max(dd) AS BIGINT) AS max_dd
  FROM dd GROUP BY user_id
)
SELECT g.user_id, g.n, g.max_dd,
       CAST(max(dd.pk) AS BIGINT) AS peak
FROM g JOIN dd ON dd.user_id = g.user_id AND dd.dd = g.max_dd
GROUP BY g.user_id, g.n, g.max_dd
""",
        # diversified top-k: per-group rank filter then global rank
        "diversified_topk": f"""
WITH d AS (
  SELECT user_id % 20 AS bucket, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v_cents
  FROM events
),
r AS (
  SELECT bucket, event_id, v_cents,
         CAST(row_number() OVER (PARTITION BY bucket
              ORDER BY v_cents DESC, event_id) AS BIGINT) AS group_rank
  FROM d
),
f AS (SELECT * FROM r WHERE group_rank <= {_DIV_PER}),
gr AS (
  SELECT *, CAST(row_number() OVER (ORDER BY v_cents DESC, event_id)
                 AS BIGINT) AS global_rank
  FROM f
)
SELECT bucket, event_id, v_cents, group_rank, global_rank
FROM gr WHERE global_rank <= {_DIV_K}
""",
        # exact Gini: rank formula, integer evidence + one IEEE division
        "gini_concentration": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
),
r AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
  FROM d
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS sum_v,
         CAST(sum(rn * v) AS BIGINT) AS wrs
  FROM r GROUP BY event_type
)
SELECT event_type, n, sum_v, wrs,
       CASE WHEN sum_v > 0
            THEN CAST(2 * wrs - (n + 1) * sum_v AS DOUBLE)
                 / CAST(n * sum_v AS DOUBLE) END AS gini
FROM g
""",
        # lift table: identical ntile cut + cumulative integer evidence
        "lift_table": """
WITH d AS (
  SELECT event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
b AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY value DESC, event_id)
                 AS BIGINT) AS bkt
  FROM d
),
g AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM b GROUP BY bkt
),
c AS (
  SELECT bkt, n, n_pos,
         CAST(sum(n) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(sum(n_pos) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
         CAST(sum(n) OVER () AS BIGINT) AS tn,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tp
  FROM g
)
SELECT bkt AS bucket, n, n_pos, cum_n, cum_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
       CASE WHEN tp > 0 THEN CAST(cum_pos * tn AS DOUBLE)
            / CAST(cum_n * tp AS DOUBLE) END AS cum_lift
FROM c
""",
        # ratio_to_report: one IEEE division over exact integer sums
        "w10_ratio_to_report": """
SELECT event_id,
       CAST(floor(value * 100) AS BIGINT) AS v_cents,
       CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                OVER (PARTITION BY event_type) AS BIGINT) AS DOUBLE)
         AS share
FROM events
""",
        "triangle_counts": f"""
WITH raw AS (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
           (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES} AS dst
    FROM documents
  ) WHERE src != dst
),
ec AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM raw
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM ec e1
  JOIN ec e2 ON e2.u = e1.v
  JOIN ec e3 ON e3.u = e1.u AND e3.v = e2.v
),
cnt AS (
  SELECT node, count(*) AS n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM ec UNION ALL SELECT v FROM ec)
)
SELECT nodes.node, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN cnt ON cnt.node = nodes.node
""",
        # funnel depth stated declaratively: r_{k+1} = first occurrence of
        # step k+1 AFTER r_k (chained min over a per-user row_number
        # sequence) == the engine's greedy earliest subsequence match
        "funnel_steps": f"""
WITH ev AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS rn,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
         event_type
  FROM events
  WHERE event_type IN ('{_FUNNEL_STEPS[0]}', '{_FUNNEL_STEPS[1]}',
                       '{_FUNNEL_STEPS[2]}')
),
s1 AS (SELECT user_id, min(rn) AS r1 FROM ev
       WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.rn) AS r2 FROM ev e
       JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.rn > s1.r1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.rn) AS r3 FROM ev e
       JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.rn > s2.r2
       GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM ev),
d AS (
  SELECT u.user_id, s1.r1, coalesce(s3.r3, s2.r2, s1.r1) AS rlast,
         CASE WHEN s3.r3 IS NOT NULL THEN 3
              WHEN s2.r2 IS NOT NULL THEN 2
              WHEN s1.r1 IS NOT NULL THEN 1 ELSE 0 END AS n_steps
  FROM u
  LEFT JOIN s1 ON s1.user_id = u.user_id
  LEFT JOIN s2 ON s2.user_id = u.user_id
  LEFT JOIN s3 ON s3.user_id = u.user_id
)
SELECT d.user_id, CAST(d.n_steps AS BIGINT) AS n_steps,
       ef.ts_us AS first_us, el.ts_us AS last_us
FROM d
LEFT JOIN ev ef ON ef.user_id = d.user_id AND ef.rn = d.r1
LEFT JOIN ev el ON el.user_id = d.user_id AND el.rn = d.rlast
""",
        # cohort retention stated declaratively: distinct (user, bucket)
        # activity, cohort = first bucket, count per (cohort, offset)
        "cohort_retention": f"""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
           // {_COHORT_BUCKET_S * 1_000_000} AS bk
  FROM events
),
coh AS (SELECT user_id, min(bk) AS cw FROM act GROUP BY user_id)
SELECT coh.cw AS cohort_bucket,
       act.bk - coh.cw AS bucket_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM act JOIN coh ON coh.user_id = act.user_id
GROUP BY 1, 2
""",
        # PMI collocations: identical integer counts + the identical
        # left-assoc IEEE expression tree -> bit-equal double ratio
        "pmi_collocations": rf"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(t) AS w FROM toks) GROUP BY w
),
bgp AS (
  SELECT p[1] AS w1, p[2] AS w2 FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                 i -> [t[i], t[i+1]])) AS p
    FROM toks)
),
bg AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM bgp GROUP BY w1, w2
),
tot AS (
  SELECT CAST((SELECT sum(c) FROM uni) AS DOUBLE) AS nu,
         CAST((SELECT sum(c_ab) FROM bg) AS DOUBLE) AS nb
)
SELECT bg.w1, bg.w2, bg.c_ab, ua.c AS c_a, ub.c AS c_b,
       CAST(bg.c_ab AS DOUBLE) * tot.nu * tot.nu
         / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE) * tot.nb)
         AS pmi_ratio
FROM bg
JOIN uni ua ON ua.w = bg.w1
JOIN uni ub ON ub.w = bg.w2
CROSS JOIN tot
WHERE bg.c_ab >= {_PMI_MIN_COUNT}
""",
        # empirical Markov transition matrix: identical lead window +
        # pair count + row total
        "transition_matrix": """
WITH p AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_state
  FROM events
),
m AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n_trans
  FROM p WHERE to_state IS NOT NULL GROUP BY from_state, to_state
),
t AS (
  SELECT from_state, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM m GROUP BY from_state
)
SELECT m.from_state, m.to_state, m.n_trans, t.n_from
FROM m JOIN t ON t.from_state = m.from_state
""",
        # equi-width histogram: DuckDB // is floor division, equal to the
        # engine's (a - pmod)/n identity for any sign
        "histogram_values": _HIST_SQL,
        # streaming histogram shares the batch oracle (count/min/max are
        # merge-associative, so micro-batch accumulation == one-shot)
        "stream_histogram": _HIST_SQL,
        # nearest as-of stated as the definition: per-left-row arg-min
        # over (|diff|, matched_ts asc, payload desc) — a documented
        # all-pairs-per-key oracle twin of the window-merge engine path
        "asof_nearest": """
WITH l AS (
  SELECT user_id, event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS lts
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, event_id AS view_event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS rts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT l.user_id, l.event_id, l.lts, r.rts, r.view_event_id,
         row_number() OVER (PARTITION BY l.user_id, l.event_id
             ORDER BY abs(r.rts - l.lts), r.rts, r.view_event_id DESC)
           AS rk
  FROM l JOIN r ON r.user_id = l.user_id
),
best AS (SELECT * FROM p WHERE rk = 1)
SELECT l.user_id, l.event_id,
       b.rts AS matched_ts_us,
       b.rts - l.lts AS diff_us,
       b.view_event_id
FROM l LEFT JOIN best b
  ON b.user_id = l.user_id AND b.event_id = l.event_id
""",
        # exact windowed medians: quantile_cont == percentile (same
        # (n-1)p interpolation, bit-identical on floor-cents ints)
        "running_median": """
SELECT event_id,
       quantile_cont(CAST(floor(value * 100) AS BIGINT), 0.5)
         OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5,
       quantile_cont(CAST(floor(value * 100) AS BIGINT), 0.5)
         OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS med_run
FROM events
""",
        # shoelace area + centroid: identical rebased integer moments +
        # identical IEEE centroid trees
        "polygon_stats": """
WITH d AS (
  SELECT user_id AS poly,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS seq,
         CAST(event_id % 1000 AS BIGINT) AS x,
         CAST(floor(value * 100) AS BIGINT) % 1000 AS y
  FROM events
  QUALIFY seq <= 6
),
r AS (
  SELECT poly, seq,
         x - min(x) OVER (PARTITION BY poly) AS xr,
         y - min(y) OVER (PARTITION BY poly) AS yr,
         min(x) OVER (PARTITION BY poly) AS mx,
         min(y) OVER (PARTITION BY poly) AS my
  FROM d
),
e AS (
  SELECT poly, mx, my, xr, yr,
         coalesce(lead(xr) OVER w, first_value(xr) OVER w2) AS x2,
         coalesce(lead(yr) OVER w, first_value(yr) OVER w2) AS y2
  FROM r
  WINDOW w AS (PARTITION BY poly ORDER BY seq),
         w2 AS (PARTITION BY poly ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
g AS (
  SELECT poly, CAST(count(*) AS BIGINT) AS n_verts,
         CAST(sum(xr * y2 - x2 * yr) AS BIGINT) AS area2,
         CAST(sum((xr + x2) * (xr * y2 - x2 * yr)) AS BIGINT) AS msx,
         CAST(sum((yr + y2) * (xr * y2 - x2 * yr)) AS BIGINT) AS msy,
         min(mx) AS mx, min(my) AS my
  FROM e GROUP BY poly
)
SELECT poly, n_verts, area2,
       CASE WHEN area2 != 0 THEN CAST(mx AS DOUBLE)
            + CAST(msx AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) END
         AS cx,
       CASE WHEN area2 != 0 THEN CAST(my AS DOUBLE)
            + CAST(msy AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) END
         AS cy
FROM g
""",
        # CUSUM closed form: s = P - least(0, running min of P), pure
        # integer prefix sums
        "cusum_alarm": f"""
WITH d AS (
  SELECT user_id,
         row_number() OVER w AS rn,
         CAST(sum(CAST(floor(value * 100) AS BIGINT) - {_CUSUM_K})
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS p
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, rn,
         p - least(0, CAST(min(p) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT)) AS s
  FROM d
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(min(CASE WHEN s >= {_CUSUM_H} THEN rn END) AS BIGINT)
         AS alarm_pos
FROM s GROUP BY user_id
""",
        # top session paths: ordered list agg -> prefix -> count -> rank
        "top_paths": f"""
WITH {{SESSION}},
pth AS (
  SELECT user_id, subset_id,
         array_to_string(list(event_type ORDER BY ts, event_id)
                         [1:{_PATH_DEPTH}], '>') AS path
  FROM sess GROUP BY user_id, subset_id
),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sess FROM pth
      GROUP BY path),
r AS (SELECT path, n_sess,
             CAST(row_number() OVER (ORDER BY n_sess DESC, path)
                  AS BIGINT) AS rank
      FROM c)
SELECT path, n_sess, rank FROM r WHERE rank <= {_PATH_K}
""".replace("{SESSION}", _SESSION_CTE),
        # exact interquartile mean: rank-band keep rule, integer evidence
        "trimmed_mean": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY event_type
             ORDER BY CAST(floor(value * 100) AS BIGINT)) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
k AS (
  SELECT event_type, v, n,
         (100 * (rn - 1) >= 25 * (n - 1)
          AND 100 * (rn - 1) <= 75 * (n - 1)) AS keep
  FROM d
),
g AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN keep THEN v ELSE 0 END) AS BIGINT) AS sum_kept
  FROM k GROUP BY event_type
)
SELECT event_type, n_total, n_kept, sum_kept,
       CASE WHEN n_kept > 0
            THEN CAST(sum_kept AS DOUBLE) / CAST(n_kept AS DOUBLE) END
         AS trimmed_mean
FROM g
""",
        # radial simplification: the identical integer fold replayed PER
        # PREFIX with a scalar struct state (DuckDB 1.0's list_reduce
        # does not thread list-growing accumulators — verified — so the
        # oracle asks, for each position p, whether the fold over the
        # first p points ends by TAKING point p; quadratic, oracle-only)
        "simplify_radial": f"""
WITH d AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         CAST(event_id % 200 AS BIGINT) AS x,
         CAST(floor(value * 100) AS BIGINT) % 200 AS y
  FROM events
),
l AS (
  SELECT user_id,
         list(struct_pack(lx := x, ly := y, took := true)
              ORDER BY rn) AS pts
  FROM d GROUP BY user_id
),
p AS (
  SELECT d.user_id, d.rn, d.x, d.y,
         list_reduce(l.pts[1:d.rn], (acc, e) -> CASE
           WHEN (e.lx - acc.lx) * (e.lx - acc.lx)
                + (e.ly - acc.ly) * (e.ly - acc.ly)
                >= {_SIMP_EPS * _SIMP_EPS}
           THEN struct_pack(lx := e.lx, ly := e.ly, took := true)
           ELSE struct_pack(lx := acc.lx, ly := acc.ly, took := false)
           END) AS st
  FROM d JOIN l ON l.user_id = d.user_id
)
SELECT user_id, CAST(rn AS BIGINT) AS pos, x, y
FROM p WHERE st.took
""",
        # deterministic negative sampling: identical md5_60 hash-step
        # over dense ordinals
        "negative_sampling": f"""
WITH ids AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS id FROM documents),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids),
o AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS r
      FROM ids),
a AS (SELECT o.id AS anchor_id, o.r AS ar, CAST(j AS BIGINT) AS neg_rank
      FROM o, unnest(range(1, {_NEG_K} + 1)) t(j)),
h AS (SELECT *,
             CAST('0x' || substr(md5('ns|' || CAST(anchor_id AS VARCHAR)
                  || '|' || CAST(neg_rank AS VARCHAR)), 1, 15) AS BIGINT)
               AS hh
      FROM a),
s AS (SELECT anchor_id, neg_rank,
             (ar + 1 + (hh % (nn.n - 1))) % nn.n AS tr
      FROM h CROSS JOIN nn)
SELECT s.anchor_id, s.neg_rank, o.id AS neg_id
FROM s JOIN o ON o.r = s.tr
""",
        # stream-static join + bounded agg == the batch join + group-by
        "stream_static_join": """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment
""",
        # segment overlap: distinct membership self-join + sizes
        "audience_overlap": """
WITH m AS (SELECT DISTINCT event_type AS s, user_id AS u FROM events),
sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY s),
i AS (
  SELECT a.s AS seg_a, b.s AS seg_b, CAST(count(*) AS BIGINT) AS n_common
  FROM m a JOIN m b ON a.u = b.u AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT i.seg_a, i.seg_b, i.n_common, sa.n AS n_a, sb.n AS n_b
FROM i JOIN sz sa ON sa.s = i.seg_a JOIN sz sb ON sb.s = i.seg_b
""",
        # integer-exact k-sigma outliers: the identical squared predicate
        # over BIGINT count/sum/sum-of-squares
        "zscore_outliers": f"""
WITH d AS (
  SELECT event_type, user_id % 10 AS bucket, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
st AS (
  SELECT event_type, bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM d GROUP BY event_type, bucket
)
SELECT d.event_type, d.bucket, d.event_id, d.v,
       (st.n * d.v - st.s) * (st.n * d.v - st.s)
         > {_ZS_K * _ZS_K} * (st.n * st.ss - st.s * st.s) AS is_outlier
FROM d JOIN st ON st.event_type = d.event_type AND st.bucket = d.bucket
""",
        # positional inverted index: identical postings + canonical
        # comma-joined ascending position strings
        "inverted_index": r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
pe AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS token
  FROM toks, unnest(range(1, len(t) + 1)) u(i)
),
p AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf,
         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
  FROM pe GROUP BY token, doc_id
),
d AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY token)
SELECT p.token, p.doc_id, p.tf, p.positions, d.df
FROM p JOIN d ON d.token = p.token
""",
        # positional phrase adjacency: phrase[i] at start + i for every i
        "phrase_search": rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
pe AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS token
  FROM toks, unnest(range(1, len(t) + 1)) u(i)
  WHERE t[i] IN ('{_PHRASE[0]}', '{_PHRASE[1]}')
),
s0 AS (SELECT doc_id, pos AS start FROM pe WHERE token = '{_PHRASE[0]}'),
s1 AS (SELECT doc_id, pos - 1 AS start FROM pe WHERE token = '{_PHRASE[1]}'),
m AS (
  SELECT s0.doc_id, s0.start FROM s0
  JOIN s1 ON s1.doc_id = s0.doc_id AND s1.start = s0.start
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       min(start) AS first_pos
FROM m GROUP BY doc_id
""",
        # order-independent table fingerprint: identical md5_60 row hash
        # (the repo's '0x'||substr(md5,1,15) == Spark conv gotcha) + the
        # identical xor / mod-2^20-sum folds
        "table_fingerprint": """
WITH h AS (
  SELECT CAST('0x' || substr(md5(concat_ws(chr(31),
           coalesce(CAST(user_id AS VARCHAR), chr(1)),
           coalesce(CAST(event_id AS VARCHAR), chr(1)),
           coalesce(CAST(event_type AS VARCHAR), chr(1)))), 1, 15)
         AS BIGINT) AS hh
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(hh) AS BIGINT) AS fp_xor,
       CAST(sum(hh % 1048576) AS BIGINT) AS fp_sum
FROM h
""",
        # per-column profile: the same metrics stated per column
        "profile_columns": """
SELECT 'user_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
       CAST(min(user_id) AS VARCHAR) AS min_s,
       CAST(max(user_id) AS VARCHAR) AS max_s
FROM events
UNION ALL
SELECT 'event_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_id) AS BIGINT),
       CAST(min(event_id) AS VARCHAR), CAST(max(event_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
""",
        # two-phase global ordinal == the declarative global row_number
        "global_ordinal": """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
         AS ordinal
FROM events
""",
        # EWMA: list_reduce seeds its accumulator from the first element,
        # exactly like the engine's F.aggregate(init=first) — identical
        # fold order + identical IEEE tree = bit-equal double
        "ewma_values": """
WITH d AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS tsu,
         CAST(event_id AS BIGINT) AS eid,
         CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE) AS v
  FROM events
),
l AS (
  SELECT user_id, list(v ORDER BY tsu, eid) AS vs FROM d GROUP BY user_id
)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
       list_reduce(vs, (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
FROM l
""",
        # exact weighted median: collapse duplicate values, cumulative
        # weight window, smallest value with 2*cum >= total
        "weighted_median": """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         user_id % 5 + 1 AS w
  FROM events
),
c AS (
  SELECT event_type, v, CAST(sum(w) AS BIGINT) AS wv
  FROM d GROUP BY event_type, v
),
x AS (
  SELECT event_type, v,
         CAST(sum(wv) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(wv) OVER (PARTITION BY event_type) AS BIGINT) AS tot
  FROM c
)
SELECT event_type, CAST(min(v) AS BIGINT) AS wmedian,
       CAST(max(tot) AS BIGINT) AS w_total
FROM x WHERE 2 * cum >= tot GROUP BY event_type
""",
        # OLS sufficient statistics as exact BIGINT sums + the identical
        # slope/intercept IEEE trees
        "linreg_trend": """
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
         CAST(floor(value * 100) AS BIGINT) AS y
  FROM events
),
r AS (
  SELECT event_type,
         (us - min(us) OVER (PARTITION BY event_type)) // 60000000 AS x,
         y
  FROM d
),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM r GROUP BY event_type
),
f AS (
  SELECT *,
         CASE WHEN n * sxx - sx * sx != 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
  FROM st
)
SELECT event_type, n, sx, sy, sxx, sxy, slope,
       CASE WHEN n * sxx - sx * sx != 0
            THEN (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept
FROM f
""",
        # 2-D radius join: the by-definition per-key inequality join
        "radius_join_2d": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
)
SELECT a.event_type, a.event_id AS a_id, b.event_id AS b_id,
       a.x AS a_x, a.y AS a_y, b.x AS b_x, b.y AS b_y,
       (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS dist2
FROM d a JOIN d b
  ON b.event_type = a.event_type AND a.event_id < b.event_id
 AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
     <= {_RADIUS_R * _RADIUS_R}
""",
        # DBSCAN: definition replay — all-pairs neighborhood, core rule,
        # recursive-CTE closure over core-core edges, min-label border
        "dbscan_clusters": f"""
WITH RECURSIVE d AS (
  SELECT event_id AS id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT a.id AS a, b.id AS b FROM d a JOIN d b
  ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
     <= {_DBSCAN_EPS * _DBSCAN_EPS}
),
cnt AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY a),
core AS (SELECT id FROM cnt WHERE n >= {_DBSCAN_MINPTS}),
ce AS (
  SELECT p.a AS s, p.b AS d FROM p
  JOIN core x ON x.id = p.a JOIN core y ON y.id = p.b
  WHERE p.a <> p.b
),
reach(s, d) AS (
  SELECT s, d FROM ce
  UNION
  SELECT r.s, e.d FROM reach r JOIN ce e ON r.d = e.s
),
comp AS (
  SELECT c.id, LEAST(c.id, COALESCE(MIN(r.d), c.id)) AS cl
  FROM core c LEFT JOIN reach r ON r.s = c.id GROUP BY c.id
),
border AS (
  SELECT p.a AS id, MIN(comp.cl) AS cl
  FROM p JOIN comp ON comp.id = p.b
  WHERE p.a <> p.b AND p.a NOT IN (SELECT id FROM core)
  GROUP BY p.a
)
SELECT cnt.id AS event_id, cnt.n AS n_neighbors,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN border.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(comp.cl, border.cl) AS cluster
FROM cnt LEFT JOIN comp ON comp.id = cnt.id
         LEFT JOIN border ON border.id = cnt.id
""",
        # lag-1 autocorrelation: lead + exact stats + the same IEEE tree
        "autocorr_lag1": """
WITH d AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
l AS (
  SELECT event_type, v AS x,
         lead(v) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
  FROM d
),
p AS (SELECT event_type, x, y FROM l WHERE y IS NOT NULL),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM p GROUP BY event_type
)
SELECT event_type, n, sx, sy, sxx, syy, sxy,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS r
FROM st
""",
        # market-basket pairs: distinct membership, pair/item supports,
        # confidence + lift as single IEEE divisions over exact ints
        "basket_pairs": f"""
WITH m AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM m),
s AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY i),
p AS (
  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_pair
  FROM m a JOIN m b ON b.b = a.b AND a.i < b.i
  GROUP BY 1, 2 HAVING count(*) >= {_BASKET_MIN_PAIR}
)
SELECT p.item_a, p.item_b, p.n_pair, sa.n AS n_a, sb.n AS n_b,
       nb.n_baskets,
       CAST(p.n_pair AS DOUBLE) / CAST(sa.n AS DOUBLE) AS conf_a_b,
       CAST(p.n_pair AS DOUBLE) / CAST(sb.n AS DOUBLE) AS conf_b_a,
       CAST(nb.n_baskets * p.n_pair AS DOUBLE)
         / CAST(sa.n * sb.n AS DOUBLE) AS lift
FROM p JOIN s sa ON sa.i = p.item_a JOIN s sb ON sb.i = p.item_b
CROSS JOIN nb
""",
        # last-touch attribution: rank-1 qualifying touch per conversion
        "attribution_last_touch": f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id, event_type, ts
  FROM events WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT c.conv_id, t.event_id AS touch_id, t.event_type AS touch_type,
         t.ts AS touch_ts,
         epoch_us(c.conv_ts) - epoch_us(t.ts) AS delay_us,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rk
  FROM conv c JOIN t
    ON t.user_id = c.user_id AND t.ts <= c.conv_ts
   AND epoch_us(c.conv_ts) - epoch_us(t.ts)
       <= CAST({_ATTR_LOOKBACK_S} AS BIGINT) * 1000000
)
SELECT c.user_id, c.conv_id, c.conv_ts, j.touch_id, j.touch_type,
       j.touch_ts, j.delay_us
FROM conv c LEFT JOIN (SELECT * FROM j WHERE rk = 1) j
  ON j.conv_id = c.conv_id
""",
        # common-neighbor link prediction: definition replay over the
        # identical derived canonical edge set
        "link_pred_cn": f"""
WITH e0 AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM (
    SELECT CAST(doc_id AS BIGINT) % {_PR_NODES} AS src,
           (CAST(doc_id AS BIGINT) * 48271) % 2147483647 % {_PR_NODES}
             AS dst
    FROM documents
  ) WHERE src != dst
),
adj AS (
  SELECT a AS c, b AS n FROM e0
  UNION ALL
  SELECT b AS c, a AS n FROM e0
),
deg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY c),
cn AS (
  SELECT l.n AS u, r.n AS w, CAST(count(*) AS BIGINT) AS cn
  FROM adj l JOIN adj r ON r.c = l.c AND l.n < r.n
  GROUP BY 1, 2
),
na AS (
  SELECT cn.* FROM cn
  LEFT JOIN e0 ON e0.a = cn.u AND e0.b = cn.w
  WHERE e0.a IS NULL
)
SELECT na.u, na.w, na.cn, du.deg AS deg_u, dw.deg AS deg_w
FROM na JOIN deg du ON du.c = na.u JOIN deg dw ON dw.c = na.w
""",
        # RFM: per-user aggregates + deterministic ntile quartiles
        "rfm_segments": """
WITH g AS (
  SELECT user_id AS "user",
         max(epoch_us(ts)) AS last_us,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
ref AS (SELECT max(last_us) AS ref_us FROM g),
d AS (
  SELECT g."user", g.f, g.m,
         CAST((ref.ref_us - g.last_us) // 86400000000 AS BIGINT) AS r_days
  FROM g CROSS JOIN ref
)
SELECT "user", r_days, f, m,
       CAST(ntile(4) OVER (ORDER BY r_days ASC, "user" ASC) AS BIGINT)
         AS r_score,
       CAST(ntile(4) OVER (ORDER BY f DESC, "user" ASC) AS BIGINT)
         AS f_score,
       CAST(ntile(4) OVER (ORDER BY m DESC, "user" ASC) AS BIGINT)
         AS m_score
FROM d
""",
        # OD flows: lead-window transitions, same-cell steps dropped
        "od_flows": f"""
WITH d AS (
  SELECT user_id, ts, event_id,
         ((CAST(event_id AS BIGINT) * 48271 + 11) % 1000) // {_OD_CELL}
           AS o_cx,
         ((CAST(event_id AS BIGINT) * 16807 + 523) % 1000) // {_OD_CELL}
           AS o_cy
  FROM events
),
l AS (
  SELECT user_id, o_cx, o_cy,
         lead(o_cx) OVER w AS d_cx, lead(o_cy) OVER w AS d_cy
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT o_cx, o_cy, d_cx, d_cy,
       CAST(count(*) AS BIGINT) AS n_trips,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_movers
FROM l
WHERE d_cx IS NOT NULL AND (o_cx != d_cx OR o_cy != d_cy)
GROUP BY 1, 2, 3, 4
""",
        # Gi* hotspots: occupied-cell counts, 3x3 binary-weight stencil,
        # the identical fraction-cleared z tree
        "hotspot_gi": f"""
WITH pts AS (
  SELECT (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
cnt AS (
  SELECT x // {_GI_CELL} AS cx, y // {_GI_CELL} AS cy,
         CAST(count(*) AS BIGINT) AS v
  FROM pts GROUP BY 1, 2
),
gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM cnt
),
nbr AS (
  SELECT a.cx, a.cy,
         CAST(sum(b.v) AS BIGINT) AS w_sum,
         CAST(count(*) AS BIGINT) AS w_cnt
  FROM cnt a JOIN cnt b
    ON abs(b.cx - a.cx) <= 1 AND abs(b.cy - a.cy) <= 1
  GROUP BY a.cx, a.cy
)
SELECT c.cx, c.cy, c.v, nbr.w_cnt, nbr.w_sum,
       CASE WHEN g.n > 1 AND g.n * g.ss - g.s * g.s > 0
                 AND nbr.w_cnt < g.n
            THEN CAST(g.n * nbr.w_sum - nbr.w_cnt * g.s AS DOUBLE)
                 / (sqrt(CAST(g.n * g.ss - g.s * g.s AS DOUBLE))
                    * sqrt(CAST(g.n * nbr.w_cnt
                                - nbr.w_cnt * nbr.w_cnt AS DOUBLE)
                           / CAST(g.n - 1 AS DOUBLE))) END AS z
FROM cnt c
JOIN nbr ON nbr.cx = c.cx AND nbr.cy = c.cy
CROSS JOIN gl g
""",
        # interval union: the identical prefix-runmax flag + running-sum
        # group id windows, then the merged agg
        "merge_intervals": """
WITH d AS (
  SELECT user_id,
         epoch_us(ts) AS s,
         epoch_us(ts)
           + (1 + abs(CAST(floor(value * 100) AS BIGINT))) * 100000 AS e
  FROM events
),
f AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER wprev IS NULL OR s > max(e) OVER wprev
              THEN 1 ELSE 0 END AS flag
  FROM d
  WINDOW wprev AS (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
g AS (
  SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS grp
  FROM f
)
SELECT user_id,
       CAST(min(s) AS BIGINT) AS m_start,
       CAST(max(e) AS BIGINT) AS m_end,
       CAST(count(*) AS BIGINT) AS n_src
FROM g GROUP BY user_id, grp
""",
        # weighted SSSP: chained MATERIALIZED union+min rounds
        "sssp_weighted": _sssp_oracle_sql(),
        # geodesic radius join: the DEFINITION (all-pairs haversine) —
        # the engine's 3-D chord bins are internal candidate gating only
        "geo_radius_join": f"""
WITH pts AS (
  SELECT event_id,
         CAST((CAST(event_id AS BIGINT) * 48271 + 11) % 1200 AS DOUBLE)
           / CAST(10.0 AS DOUBLE) - CAST(60.0 AS DOUBLE) AS lat,
         CAST((CAST(event_id AS BIGINT) * 16807 + 523) % 3600 AS DOUBLE)
           / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
  FROM events
),
p AS (SELECT event_id AS a_id, lat, lon FROM pts WHERE event_id % 5 = 0),
j AS (
  SELECT p.a_id, b.event_id AS b_id,
         {_hav_sql('p.lat', 'p.lon', 'b.lat', 'b.lon')} AS dist_m
  FROM p JOIN pts b ON p.a_id != b.event_id
)
SELECT a_id, b_id, dist_m FROM j WHERE dist_m <= {_GEO_RJ_M}
""",
        # kNN join: the definition as the all-pairs (dist2, b_id) rank
        "knn_join_2d": f"""
WITH g AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
p AS (
  SELECT event_type, event_id AS p_id, x AS px, y AS py
  FROM g WHERE event_id % 7 = 0
),
b AS (
  SELECT event_type, event_id AS b_id, x AS bx, y AS by
  FROM g WHERE event_id % 7 <> 0
),
j AS (
  SELECT p.event_type, p.p_id, b.b_id,
         (b.bx - p.px) * (b.bx - p.px)
           + (b.by - p.py) * (b.by - p.py) AS dist2
  FROM p JOIN b ON b.event_type = p.event_type
)
SELECT event_type, p_id, b_id, dist2,
       CAST(row_number() OVER (PARTITION BY event_type, p_id
                               ORDER BY dist2, b_id) AS BIGINT) AS rnk
FROM j
QUALIFY rnk <= {_KNN_K}
""",
        # pooled two-proportion z: exact arm counts, one fixed IEEE tree
        "ab_test_2prop": """
WITH d AS (
  SELECT user_id % 3 AS exp_grp,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
g AS (
  SELECT exp_grp,
         CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS n_a,
         CAST(coalesce(sum(conv) FILTER (WHERE variant = 'A'), 0)
              AS BIGINT) AS x_a,
         CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS n_b,
         CAST(coalesce(sum(conv) FILTER (WHERE variant = 'B'), 0)
              AS BIGINT) AS x_b
  FROM d WHERE variant IN ('A', 'B') GROUP BY exp_grp
),
p AS (
  SELECT *,
         CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pool
  FROM g
),
s AS (
  SELECT *,
         sqrt(pool * (CAST(1.0 AS DOUBLE) - pool)
              * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                 + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se
  FROM p
)
SELECT exp_grp, n_a, x_a, n_b, x_b,
       CASE WHEN n_a > 0
            THEN CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
       CASE WHEN n_b > 0
            THEN CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
            THEN (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / se
       END AS z
FROM s
""",
        # chi-square cells: exact marginals, fraction-cleared contrib
        "chi2_independence": """
WITH d AS (
  SELECT event_type AS et, user_id % 4 AS ub FROM events
),
cnt AS (
  SELECT et AS r, ub AS c, CAST(count(*) AS BIGINT) AS o
  FROM d GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cnt),
rowt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cnt GROUP BY r),
colt AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cnt GROUP BY c)
SELECT cnt.r, cnt.c, cnt.o,
       rowt.rt AS row_total, colt.ct AS col_total,
       (CAST(rowt.rt AS DOUBLE) * CAST(colt.ct AS DOUBLE))
         / CAST(tot.n AS DOUBLE) AS expected,
       CASE WHEN CAST(tot.n AS DOUBLE) * CAST(rowt.rt AS DOUBLE)
                 * CAST(colt.ct AS DOUBLE) > 0
            THEN CAST(cnt.o * tot.n - rowt.rt * colt.ct AS DOUBLE)
                 * CAST(cnt.o * tot.n - rowt.rt * colt.ct AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * CAST(rowt.rt AS DOUBLE)
                    * CAST(colt.ct AS DOUBLE))
       END AS contrib
FROM cnt
JOIN rowt ON rowt.r = cnt.r
JOIN colt ON colt.c = cnt.c
CROSS JOIN tot
""",
        # Welch t: exact per-arm (n, s, ss), subtree-identical IEEE trees
        "welch_ttest": """
WITH d AS (
  SELECT event_type AS et,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT et,
         CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS n_a,
         CAST(coalesce(sum(cents) FILTER (WHERE variant = 'A'), 0)
              AS BIGINT) AS s_a,
         CAST(coalesce(sum(cents * cents) FILTER (WHERE variant = 'A'), 0)
              AS BIGINT) AS ss_a,
         CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS n_b,
         CAST(coalesce(sum(cents) FILTER (WHERE variant = 'B'), 0)
              AS BIGINT) AS s_b,
         CAST(coalesce(sum(cents * cents) FILTER (WHERE variant = 'B'), 0)
              AS BIGINT) AS ss_b
  FROM d WHERE variant IN ('A', 'B') GROUP BY et
),
v AS (
  SELECT *,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
         (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE)
            * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
           / CAST(n_a - 1 AS DOUBLE) AS v_a,
         (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE)
            * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
           / CAST(n_b - 1 AS DOUBLE) AS v_b
  FROM g
),
q AS (
  SELECT *,
         v_a / CAST(n_a AS DOUBLE) AS q_a,
         v_b / CAST(n_b AS DOUBLE) AS q_b,
         v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE) AS qq
  FROM v
)
SELECT et, n_a, s_a, ss_a, n_b, s_b, ss_b,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND qq > 0
            THEN (m_a - m_b) / sqrt(qq) END AS t,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND qq > 0
                 AND q_a * q_a / CAST(n_a - 1 AS DOUBLE)
                     + q_b * q_b / CAST(n_b - 1 AS DOUBLE) > 0
            THEN qq * qq
                 / (q_a * q_a / CAST(n_a - 1 AS DOUBLE)
                    + q_b * q_b / CAST(n_b - 1 AS DOUBLE))
       END AS df_welch
FROM q
""",
        # Mann-Whitney U: doubled midranks, exact BIGINT evidence,
        # tie-corrected z replayed subtree-for-subtree
        "mannwhitney_u": """
WITH d AS (
  SELECT event_type AS et,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
cnt AS (
  SELECT et, v,
         CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS c_a,
         CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS c_b
  FROM d GROUP BY et, v
),
ranked AS (
  SELECT et, c_a, c_b,
         2 * CAST(coalesce(sum(c_a + c_b) OVER (
               PARTITION BY et ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + (c_a + c_b) + 1 AS mid2,
         (c_a + c_b) * (c_a + c_b) * (c_a + c_b) - (c_a + c_b) AS tie3
  FROM cnt
),
g AS (
  SELECT et,
         CAST(sum(c_a) AS BIGINT) AS n_a,
         CAST(sum(c_b) AS BIGINT) AS n_b,
         CAST(sum(c_a * mid2) AS BIGINT) AS r2_a,
         CAST(sum(tie3) AS BIGINT) AS tie_term
  FROM ranked GROUP BY et
),
s AS (
  SELECT *,
         CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
              - CAST(tie_term AS DOUBLE)
                / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)) AS sig2
  FROM g
)
SELECT et, n_a, n_b, u2_a, tie_term,
       CASE WHEN n_a > 0 AND n_b > 0 AND sig2 > 0
            THEN (CAST(u2_a AS DOUBLE) / 2.0
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / sqrt(sig2)
       END AS z
FROM s
""",
        # Spearman rho: centered doubled midranks, exact BIGINT moments
        "spearman_corr": """
WITH d AS (
  SELECT event_type AS et,
         CAST(floor(value * 100) AS BIGINT) AS x,
         user_id AS y
  FROM events
),
r AS (
  SELECT et,
         CAST(2 * rank() OVER (PARTITION BY et ORDER BY x)
              + count(*) OVER (PARTITION BY et, x) - 1
              - (count(*) OVER (PARTITION BY et) + 1) AS BIGINT) AS dx,
         CAST(2 * rank() OVER (PARTITION BY et ORDER BY y)
              + count(*) OVER (PARTITION BY et, y) - 1
              - (count(*) OVER (PARTITION BY et) + 1) AS BIGINT) AS dy
  FROM d
),
g AS (
  SELECT et, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM r GROUP BY et
)
SELECT et, n, sxy, sxx, syy,
       CASE WHEN n >= 2
                 AND CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE) > 0
            THEN CAST(sxy AS DOUBLE)
                 / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))
       END AS rho
FROM g
""",
        # two-sample KS: fraction-cleared exact ECDF-gap supremum
        "ks_2samp": """
WITH d AS (
  SELECT event_type AS et,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
cnt AS (
  SELECT et, v,
         CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS c_a,
         CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS c_b
  FROM d GROUP BY et, v
),
st AS (
  SELECT et,
         sum(c_a) OVER (PARTITION BY et ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca_cum,
         sum(c_b) OVER (PARTITION BY et ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb_cum,
         sum(c_a) OVER (PARTITION BY et) AS na,
         sum(c_b) OVER (PARTITION BY et) AS nb
  FROM cnt
),
g AS (
  SELECT et,
         CAST(max(na) AS BIGINT) AS n_a,
         CAST(max(nb) AS BIGINT) AS n_b,
         CAST(max(abs(nb * ca_cum - na * cb_cum)) AS BIGINT) AS d_num
  FROM st GROUP BY et
)
SELECT et, n_a, n_b, d_num,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
       END AS d
FROM g
""",
        # strict convex hull — the oracle replays the EXTREME-POINT
        # definition, not the chain: p is a hull vertex iff some directed
        # edge p->q keeps every other r strictly left (cross > 0), with
        # collinear r admitted only strictly BEYOND q (dot test) so
        # mid-edge points never qualify; n=1 groups are their own hull.
        # CCW idx = 1 + |{u counter-clockwise-before v around p0}| (no
        # two strict hull vertices are collinear with p0, so the count
        # is total); doubled area via the idx->(idx+1 mod h) edge join.
        "convex_hull": f"""
WITH raw AS (
  SELECT DISTINCT event_type,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events WHERE event_id % {_HULL_MOD} = 0
),
cnt AS (SELECT event_type, count(*) AS n FROM raw GROUP BY event_type),
singl AS (
  SELECT r.event_type, r.x, r.y
  FROM raw r JOIN cnt c USING (event_type) WHERE c.n = 1
),
vert AS (
  SELECT DISTINCT p.event_type, p.x, p.y
  FROM raw p
  JOIN raw q ON q.event_type = p.event_type
            AND (q.x <> p.x OR q.y <> p.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM raw r
    WHERE r.event_type = p.event_type
      AND (r.x <> p.x OR r.y <> p.y) AND (r.x <> q.x OR r.y <> q.y)
      AND NOT (
        (q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x) > 0
        OR ((q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x) = 0
            AND (r.x - p.x) * (q.x - p.x) + (r.y - p.y) * (q.y - p.y)
                > (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y))
      )
  )
),
hullv AS (SELECT * FROM vert UNION ALL SELECT * FROM singl),
p0 AS (
  SELECT event_type, x AS x0, y AS y0 FROM hullv
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY x, y) = 1
),
nh AS (SELECT event_type, count(*) AS h FROM hullv GROUP BY event_type),
ordv AS (
  SELECT v.event_type, v.x, v.y,
         CASE WHEN v.x = p.x0 AND v.y = p.y0 THEN 0
              ELSE 1 + (SELECT count(*) FROM hullv u
                        WHERE u.event_type = v.event_type
                          AND (u.x <> p.x0 OR u.y <> p.y0)
                          AND (u.x <> v.x OR u.y <> v.y)
                          AND (u.x - p.x0) * (v.y - p.y0)
                              - (u.y - p.y0) * (v.x - p.x0) > 0)
         END AS idx
  FROM hullv v JOIN p0 p USING (event_type)
),
area AS (
  SELECT a.event_type,
         CAST(sum(a.x * b.y - b.x * a.y) AS BIGINT) AS a2
  FROM ordv a
  JOIN nh n USING (event_type)
  JOIN ordv b ON b.event_type = a.event_type
             AND b.idx = (a.idx + 1) % n.h
  GROUP BY a.event_type
)
SELECT v.event_type, CAST(v.idx AS BIGINT) AS idx,
       CAST(v.x AS BIGINT) AS x, CAST(v.y AS BIGINT) AS y,
       CAST(n.h AS BIGINT) AS n_hull, ar.a2 AS hull_2area
FROM ordv v
JOIN nh n USING (event_type)
JOIN area ar USING (event_type)
""",
        # trailing-7-day distinct users — the oracle states the DEFINITION
        # (day spine + windowed COUNT(DISTINCT), kept where it changes);
        # the engine derives the same step function from merged coverage
        # intervals without ever building the spine.
        "rolling_active": f"""
WITH ev AS (
  SELECT DISTINCT event_type, user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM events
),
bounds AS (
  SELECT event_type, min(day) AS lo, max(day) AS hi
  FROM ev GROUP BY event_type
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi + {_ROLL_W_DAYS}))
           AS day
  FROM bounds
),
cnt AS (
  SELECT s.event_type, s.day, count(DISTINCT e.user_id) AS n
  FROM spine s LEFT JOIN ev e
    ON e.event_type = s.event_type
   AND e.day BETWEEN s.day - {_ROLL_W_DAYS - 1} AND s.day
  GROUP BY s.event_type, s.day
),
chg AS (
  SELECT event_type, day, n,
         lag(n, 1, 0) OVER (PARTITION BY event_type ORDER BY day) AS pn
  FROM cnt
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(n AS BIGINT) AS n_active
FROM chg WHERE n <> pn
""",
        # Theil–Sen: identical pair multiset (event_id order, dx > 0
        # normalization), identical total order (slope double, dy, dx),
        # lower median at rank (m+1)//2.
        "theil_sen": f"""
WITH d AS (
  SELECT event_type, event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
         CAST(floor(value * 100) AS BIGINT) AS y
  FROM events WHERE event_id % {_TS_MOD} = 0
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pts
  FROM d GROUP BY event_type
),
pr AS (
  SELECT a.event_type,
         CASE WHEN b.x - a.x < 0 THEN a.x - b.x ELSE b.x - a.x END AS dx,
         CASE WHEN b.x - a.x < 0 THEN a.y - b.y ELSE b.y - a.y END AS dy
  FROM d a JOIN d b ON b.event_type = a.event_type
                   AND a.event_id < b.event_id
  WHERE b.x <> a.x
),
sl AS (
  SELECT event_type, dx, dy,
         CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS slope,
         row_number() OVER (PARTITION BY event_type
             ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pr
),
med AS (
  SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
         CAST(dy AS BIGINT) AS med_dy, CAST(dx AS BIGINT) AS med_dx,
         slope
  FROM sl WHERE rn = (m + 1) // 2
)
SELECT s.event_type, s.n_pts,
       CAST(coalesce(med.n_pairs, 0) AS BIGINT) AS n_pairs,
       med.med_dy AS med_dy, med.med_dx AS med_dx, med.slope AS slope
FROM stats s LEFT JOIN med USING (event_type)
""",
        # geodesic DBSCAN: the DEFINITION — all-pairs haversine eps graph
        # + recursive closure; identical structure to dbscan_clusters with
        # the int dist^2 predicate swapped for the shared haversine tree.
        "dbscan_geo": f"""
WITH RECURSIVE d AS (
  SELECT event_id AS id,
         CAST((CAST(event_id AS BIGINT) * 48271 + 11) % 1200 AS DOUBLE)
           / CAST(10.0 AS DOUBLE) - CAST(60.0 AS DOUBLE) AS lat,
         CAST((CAST(event_id AS BIGINT) * 16807 + 523) % 3600 AS DOUBLE)
           / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT a.id AS a, b.id AS b FROM d a JOIN d b
  ON {_hav_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= {_DBG_EPS_M}
),
cnt AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY a),
core AS (SELECT id FROM cnt WHERE n >= {_DBG_MINPTS}),
ce AS (
  SELECT p.a AS s, p.b AS d FROM p
  JOIN core x ON x.id = p.a JOIN core y ON y.id = p.b
  WHERE p.a <> p.b
),
reach(s, d) AS (
  SELECT s, d FROM ce
  UNION
  SELECT r.s, e.d FROM reach r JOIN ce e ON r.d = e.s
),
comp AS (
  SELECT c.id, LEAST(c.id, COALESCE(MIN(r.d), c.id)) AS cl
  FROM core c LEFT JOIN reach r ON r.s = c.id GROUP BY c.id
),
border AS (
  SELECT p.a AS id, MIN(comp.cl) AS cl
  FROM p JOIN comp ON comp.id = p.b
  WHERE p.a <> p.b AND p.a NOT IN (SELECT id FROM core)
  GROUP BY p.a
)
SELECT cnt.id AS event_id, cnt.n AS n_neighbors,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN border.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(comp.cl, border.cl) AS cluster
FROM cnt LEFT JOIN comp ON comp.id = cnt.id
         LEFT JOIN border ON border.id = cnt.id
""",
        # trip stats: lead legs + sqrt(double(int64 dist2)) + floor-um
        # quantization + exact BIGINT sum; first/last via rank-1 windows.
        # Every op in the tree is correctly rounded (no library trig),
        # so even the doubles hash identically cross-engine.
        "trip_stats": """
WITH d AS (
  SELECT user_id, ts, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
l AS (
  SELECT user_id, x, y,
         lead(x) OVER w AS nx, lead(y) OVER w AS ny
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
legs AS (
  SELECT user_id,
         CASE WHEN nx IS NOT NULL THEN CAST(floor(
           sqrt(CAST((nx - x) * (nx - x) + (ny - y) * (ny - y)
                AS DOUBLE)) * 1000000.0) AS BIGINT) END AS leg_um
  FROM l
),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
         CAST(count(leg_um) AS BIGINT) AS n_legs,
         CAST(coalesce(sum(leg_um), 0) AS BIGINT) AS path_um
  FROM legs GROUP BY user_id
),
fp AS (
  SELECT user_id, x AS fx, y AS fy FROM d
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1
),
lp AS (
  SELECT user_id, x AS lx, y AS ly FROM d
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
),
base AS (
  SELECT a.user_id, a.n_points, a.n_legs, a.path_um,
         CASE WHEN a.n_legs > 0 THEN
           sqrt(CAST((lp.lx - fp.fx) * (lp.lx - fp.fx)
                     + (lp.ly - fp.fy) * (lp.ly - fp.fy) AS DOUBLE))
         END AS net_disp_m
  FROM agg a JOIN fp USING (user_id) JOIN lp USING (user_id)
)
SELECT user_id, n_points, n_legs, path_um, net_disp_m,
       CASE WHEN path_um > 0 THEN
         net_disp_m / (CAST(path_um AS DOUBLE) / 1000000.0)
       END AS straightness
FROM base
""",
        # point-set diameter: the oracle ranks ALL pairs under the same
        # total order the engine applies to hull-vertex pairs only — the
        # exact match certifies the hull reduction itself.
        "hull_diameter": f"""
WITH raw AS (
  SELECT DISTINCT event_type,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events WHERE event_id % {_HULL_MOD} = 0
),
p AS (
  SELECT a.event_type,
         CAST(a.x AS BIGINT) AS x1, CAST(a.y AS BIGINT) AS y1,
         CAST(b.x AS BIGINT) AS x2, CAST(b.y AS BIGINT) AS y2,
         CAST((b.x - a.x) * (b.x - a.x)
              + (b.y - a.y) * (b.y - a.y) AS BIGINT) AS dist2
  FROM raw a JOIN raw b
    ON b.event_type = a.event_type
   AND (a.x < b.x OR (a.x = b.x AND a.y <= b.y))
)
SELECT event_type, x1, y1, x2, y2, dist2
FROM p
QUALIFY row_number() OVER (PARTITION BY event_type
    ORDER BY dist2 DESC, x1, y1, x2, y2) = 1
""",
        # bbox overlap join: the DEFINITION — the four-inequality join;
        # the engine's canonical-cell grid only gates candidates.
        "bbox_join": """
WITH r AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x1,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y1,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000
           + (CAST(event_id AS BIGINT) * 131 + 3) % 30 AS x2,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000
           + (CAST(event_id AS BIGINT) * 137 + 5) % 30 AS y2
  FROM events
)
SELECT a.event_type,
       CAST(a.event_id AS BIGINT) AS a_id,
       CAST(b.event_id AS BIGINT) AS b_id,
       CAST(greatest(a.x1, b.x1) AS BIGINT) AS ix1,
       CAST(greatest(a.y1, b.y1) AS BIGINT) AS iy1,
       CAST(least(a.x2, b.x2) AS BIGINT) AS ix2,
       CAST(least(a.y2, b.y2) AS BIGINT) AS iy2
FROM r a JOIN r b
  ON b.event_type = a.event_type
 AND a.x1 <= b.x2 AND b.x1 <= a.x2
 AND a.y1 <= b.y2 AND b.y1 <= a.y2
WHERE a.event_id % 11 = 0 AND a.event_id <> b.event_id
""",
        # segment intersection: the identical exact integer predicate
        # (d1..d4 orientation signs + on-segment touches) over all pairs
        "segment_join": """
WITH s AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x1,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y1,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000
           + (CAST(event_id AS BIGINT) * 131 + 3) % 80 - 40 AS x2,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000
           + (CAST(event_id AS BIGINT) * 137 + 5) % 80 - 40 AS y2
  FROM events
),
p AS (
  SELECT a.event_type,
         CAST(a.event_id AS BIGINT) AS a_id,
         CAST(b.event_id AS BIGINT) AS b_id,
         (b.x2 - b.x1) * (a.y1 - b.y1)
           - (b.y2 - b.y1) * (a.x1 - b.x1) AS d1,
         (b.x2 - b.x1) * (a.y2 - b.y1)
           - (b.y2 - b.y1) * (a.x2 - b.x1) AS d2,
         (a.x2 - a.x1) * (b.y1 - a.y1)
           - (a.y2 - a.y1) * (b.x1 - a.x1) AS d3,
         (a.x2 - a.x1) * (b.y2 - a.y1)
           - (a.y2 - a.y1) * (b.x2 - a.x1) AS d4,
         a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
  FROM s a JOIN s b ON b.event_type = a.event_type
  WHERE a.event_id % 13 = 0 AND a.event_id <> b.event_id
),
t AS (
  SELECT event_type, a_id, b_id,
         (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
          AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))) AS proper,
         ((d1 = 0 AND ax1 >= least(bx1, bx2) AND ax1 <= greatest(bx1, bx2)
                   AND ay1 >= least(by1, by2) AND ay1 <= greatest(by1, by2))
          OR (d2 = 0 AND ax2 >= least(bx1, bx2)
                   AND ax2 <= greatest(bx1, bx2)
                   AND ay2 >= least(by1, by2)
                   AND ay2 <= greatest(by1, by2))
          OR (d3 = 0 AND bx1 >= least(ax1, ax2)
                   AND bx1 <= greatest(ax1, ax2)
                   AND by1 >= least(ay1, ay2)
                   AND by1 <= greatest(ay1, ay2))
          OR (d4 = 0 AND bx2 >= least(ax1, ax2)
                   AND bx2 <= greatest(ax1, ax2)
                   AND by2 >= least(ay1, ay2)
                   AND by2 <= greatest(ay1, ay2))) AS touch
  FROM p
)
SELECT event_type, a_id, b_id, proper
FROM t WHERE proper OR touch
""",
        # union-of-rectangles area: the oracle is DEFINITIONAL — every
        # box explodes to its unit cells, union area = COUNT(DISTINCT
        # cell) — sharing no algorithmic structure with the engine's
        # strip sweep.
        "rect_union_area": f"""
WITH r AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x1,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y1,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000
           + (CAST(event_id AS BIGINT) * 131 + 3) % 30 AS x2,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000
           + (CAST(event_id AS BIGINT) * 137 + 5) % 30 AS y2
  FROM events WHERE event_id % {_RUA_MOD} = 0
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rects
  FROM r GROUP BY event_type
),
live AS (SELECT * FROM r WHERE x2 > x1 AND y2 > y1),
cells AS (
  SELECT DISTINCT event_type, cx, cy FROM (
    SELECT event_type, unnest(generate_series(x1, x2 - 1)) AS cx, y1, y2
    FROM live
  ), LATERAL (SELECT unnest(generate_series(y1, y2 - 1)) AS cy)
),
area AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS union_area
  FROM cells GROUP BY event_type
)
SELECT s.event_type, s.n_rects,
       CAST(coalesce(a.union_area, 0) AS BIGINT) AS union_area
FROM stats s LEFT JOIN area a USING (event_type)
""",
        # co-movement pairs: per-bucket all-pairs dist filter (the
        # definition) + gaps-and-islands run compression
        "comovement": f"""
WITH d AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS uid,
         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS tb
  FROM events
),
p AS (
  SELECT uid, tb,
         (uid * 48271 + 11 + tb * (1 + uid % 3)) % 1000 AS x,
         (uid * 16807 + 523 + tb * (1 + uid % 5)) % 1000 AS y
  FROM d
),
hits AS (
  SELECT a.uid AS a_id, b.uid AS b_id, a.tb
  FROM p a JOIN p b ON b.tb = a.tb AND a.uid < b.uid
  WHERE (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
        <= {_COMOVE_R * _COMOVE_R}
),
runs AS (
  SELECT a_id, b_id, tb,
         tb - row_number() OVER (PARTITION BY a_id, b_id ORDER BY tb)
           AS grp
  FROM hits
)
SELECT a_id, b_id, CAST(min(tb) AS BIGINT) AS t_start,
       CAST(max(tb) AS BIGINT) AS t_end,
       CAST(count(*) AS BIGINT) AS n_steps
FROM runs GROUP BY a_id, b_id, grp
HAVING count(*) >= {_COMOVE_K}
""",
        # emerging hotspots: exact split instant, per-cell window counts,
        # the same pooled-z IEEE tree
        "emerging_hotspots": f"""
WITH b AS (
  SELECT CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS mn,
         CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS mx
  FROM events
),
pts AS (
  SELECT ((CAST(event_id AS BIGINT) * 48271 + 11) % 1000)
           // {_EH_CELL} AS cx,
         ((CAST(event_id AS BIGINT) * 16807 + 523) % 1000)
           // {_EH_CELL} AS cy,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   >= b.mn + (2 * (b.mx - b.mn)) // 3
              THEN 1 ELSE 0 END AS r
  FROM events, b
),
per AS (
  SELECT cx, cy, CAST(sum(r) AS BIGINT) AS n_recent,
         CAST(sum(1 - r) AS BIGINT) AS n_base
  FROM pts GROUP BY cx, cy
),
tot AS (
  SELECT CAST(sum(n_recent) AS BIGINT) AS nr,
         CAST(sum(n_base) AS BIGINT) AS nb
  FROM per
),
f AS (
  SELECT cx, cy, n_recent, n_base, nr, nb,
         CAST(n_recent AS DOUBLE) / CAST(nr AS DOUBLE) AS p_r,
         CAST(n_base AS DOUBLE) / CAST(nb AS DOUBLE) AS p_b,
         CAST(n_recent + n_base AS DOUBLE) / CAST(nr + nb AS DOUBLE) AS p
  FROM per, tot
  WHERE n_recent + n_base >= {_EH_MIN}
)
SELECT cx, cy, n_recent, n_base,
       CASE WHEN p * (1.0 - p) * (1.0 / CAST(nr AS DOUBLE)
                                  + 1.0 / CAST(nb AS DOUBLE)) > 0
            THEN (p_r - p_b)
                 / sqrt(p * (1.0 - p) * (1.0 / CAST(nr AS DOUBLE)
                                         + 1.0 / CAST(nb AS DOUBLE)))
       END AS z
FROM f
""",
        # Visvalingam-Whyatt: chained-CTE per-round replay of the exact
        # (2area, seq) argmin removal — the fixed-round O4 contract
        "simplify_vw": _vw_oracle_sql(),
        # spatiotemporal radius join: definition replay — per-type
        # inequality join on BOTH exact axes (int64 dist² + |dt| micros)
        "st_radius_join": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y,
         epoch_us(ts) AS t
  FROM events
)
SELECT a.event_type, a.event_id AS a_id, b.event_id AS b_id,
       (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS dist2,
       b.t - a.t AS dt
FROM d a JOIN d b
  ON b.event_type = a.event_type AND a.event_id < b.event_id
 AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
     <= {_ST_R * _ST_R}
 AND abs(b.t - a.t) <= {_ST_TBAND_US}
""",
        # ST-DBSCAN: definition replay — all-pairs TWO-AXIS neighborhood
        # (space AND time), core rule, recursive-CTE closure, min-label
        "st_dbscan": f"""
WITH RECURSIVE d AS (
  SELECT event_id AS id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y,
         epoch_us(ts) AS t
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT a.id AS a, b.id AS b FROM d a JOIN d b
  ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
     <= {_STDB_EPS * _STDB_EPS}
 AND abs(b.t - a.t) <= {_STDB_EPST_US}
),
cnt AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY a),
core AS (SELECT id FROM cnt WHERE n >= {_STDB_MINPTS}),
ce AS (
  SELECT p.a AS s, p.b AS d FROM p
  JOIN core x ON x.id = p.a JOIN core y ON y.id = p.b
  WHERE p.a <> p.b
),
reach(s, d) AS (
  SELECT s, d FROM ce
  UNION
  SELECT r.s, e.d FROM reach r JOIN ce e ON r.d = e.s
),
comp AS (
  SELECT c.id, LEAST(c.id, COALESCE(MIN(r.d), c.id)) AS cl
  FROM core c LEFT JOIN reach r ON r.s = c.id GROUP BY c.id
),
border AS (
  SELECT p.a AS id, MIN(comp.cl) AS cl
  FROM p JOIN comp ON comp.id = p.b
  WHERE p.a <> p.b AND p.a NOT IN (SELECT id FROM core)
  GROUP BY p.a
)
SELECT cnt.id AS event_id, cnt.n AS n_neighbors,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN border.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(comp.cl, border.cl) AS cluster
FROM cnt LEFT JOIN comp ON comp.id = cnt.id
         LEFT JOIN border ON border.id = cnt.id
""",
        # bounded kNN join: definition replay — within-radius all-pairs
        # + row_number under the total (dist2, b_id) order
        "knn_join": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
a AS (SELECT event_id AS a_id, x AS ax, y AS ay FROM d
      WHERE event_type = 'view'),
b AS (SELECT event_id AS b_id, x AS bx, y AS by FROM d
      WHERE event_type = 'click'),
c AS (
  SELECT a_id, b_id,
         (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS dist2
  FROM a JOIN b
    ON (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
       <= {_KNN_R * _KNN_R}
),
r AS (
  SELECT a_id, b_id, dist2,
         CAST(row_number() OVER (PARTITION BY a_id
                                 ORDER BY dist2, b_id) AS BIGINT) AS rk
  FROM c
)
SELECT a_id, b_id, dist2, rk FROM r WHERE rk <= {_KNN_K}
""",
        # skyline: fully DEFINITIONAL — NOT EXISTS strict-dominance
        # anti-join, zero shared structure with the running-min rewrite
        "skyline_rows": """
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
)
SELECT p.event_type, p.event_id, p.x, p.y
FROM d p
WHERE NOT EXISTS (
  SELECT 1 FROM d q
  WHERE q.event_type = p.event_type
    AND q.x <= p.x AND q.y <= p.y
    AND (q.x < p.x OR q.y < p.y))
""",
        # geofence visits: chained replay — per-user seq, exact dist²
        # fence join, gaps-and-islands run compression, visit agg
        "geofence_visits": f"""
WITH d AS (
  SELECT user_id, event_id, ts,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
p AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS BIGINT)
            AS seq
  FROM d
),
f AS (
  SELECT CAST(n_nationkey AS BIGINT) AS fence_id,
         (CAST(n_nationkey AS BIGINT) * 317 + 41) % 1000 AS cx,
         (CAST(n_nationkey AS BIGINT) * 631 + 97) % 1000 AS cy,
         {_GF_R_BASE} + (CAST(n_nationkey AS BIGINT) % 5)
                        * {_GF_R_STEP} AS r
  FROM nation
),
h AS (
  SELECT p.user_id, f.fence_id, p.seq, p.ts
  FROM p JOIN f
    ON (p.x - f.cx) * (p.x - f.cx) + (p.y - f.cy) * (p.y - f.cy)
       <= f.r * f.r
),
i AS (
  SELECT *, seq - row_number() OVER (PARTITION BY user_id, fence_id
                                     ORDER BY seq) AS isl
  FROM h
)
SELECT user_id, fence_id, min(ts) AS enter_ts, max(ts) AS exit_ts,
       CAST(count(*) AS BIGINT) AS n_points
FROM i GROUP BY user_id, fence_id, isl
""",
        # quantized IDW: definition replay — integer weights
        # 2^wbits // (1+dist2), exact BIGINT sums, integer division
        "idw_grid": f"""
WITH s AS (
  SELECT event_id AS s_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y,
         (CAST(event_id AS BIGINT) * 7919 + 3) % 1000 AS v
  FROM events
),
t AS (
  SELECT CAST(s_suppkey AS BIGINT) AS t_id,
         (CAST(s_suppkey AS BIGINT) * 389 + 7) % 1000 AS tx,
         (CAST(s_suppkey AS BIGINT) * 911 + 3) % 1000 AS ty
  FROM supplier
),
c AS (
  SELECT t.t_id,
         {1 << _IDW_WBITS} // (1 + (s.x - t.tx) * (s.x - t.tx)
                                 + (s.y - t.ty) * (s.y - t.ty)) AS w,
         s.v
  FROM t JOIN s
    ON (s.x - t.tx) * (s.x - t.tx) + (s.y - t.ty) * (s.y - t.ty)
       <= {_IDW_R * _IDW_R}
),
g AS (
  SELECT t_id, CAST(count(*) AS BIGINT) AS n_src,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w * v) AS BIGINT) AS swv
  FROM c GROUP BY t_id
)
SELECT t.t_id, g.swv // g.sum_w AS idw_q,
       CAST(COALESCE(g.n_src, 0) AS BIGINT) AS n_src,
       CAST(COALESCE(g.sum_w, 0) AS BIGINT) AS sum_w
FROM t LEFT JOIN g ON g.t_id = t.t_id
""",
        # Ripley's K: definitional — all-pairs at max radius, then each
        # pair joins the rung ladder it qualifies for; k_q replayed with
        # DuckDB integer division
        "ripley_k": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
rungs AS (SELECT CAST(unnest({list(_RIPLEY_RADII)}) AS BIGINT) AS r),
pr AS (
  SELECT a.event_type,
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS dist2
  FROM d a JOIN d b
    ON b.event_type = a.event_type AND a.event_id <> b.event_id
   AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       <= {_RIPLEY_RADII[-1] ** 2}
),
p AS (
  SELECT event_type, rungs.r, CAST(count(*) AS BIGINT) AS n_pairs
  FROM pr JOIN rungs ON pr.dist2 <= rungs.r * rungs.r
  GROUP BY event_type, rungs.r
),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pts
  FROM d GROUP BY event_type
)
SELECT n.event_type, rungs.r, n.n_pts,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CASE WHEN n.n_pts >= 2 THEN
         ({_RIPLEY_AREA} * COALESCE(p.n_pairs, 0))
         // (n.n_pts * (n.n_pts - 1)) END AS k_q
FROM n CROSS JOIN rungs
LEFT JOIN p ON p.event_type = n.event_type AND p.r = rungs.r
""",
        # Knox test: definitional — all unordered pairs per type, both
        # axis flags, exact integer evidence tree
        "knox_test": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y,
         epoch_us(ts) AS t
  FROM events
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN (b.x - a.x) * (b.x - a.x)
                 + (b.y - a.y) * (b.y - a.y)
                <= {_KNOX_R * _KNOX_R} THEN 1 ELSE 0 END AS sp,
         CASE WHEN abs(b.t - a.t) <= {_KNOX_TBAND_US}
              THEN 1 ELSE 0 END AS tm
  FROM d a JOIN d b
    ON b.event_type = a.event_type AND a.event_id < b.event_id
),
m AS (
  SELECT event_type, CAST(sum(sp) AS BIGINT) AS ns,
         CAST(sum(tm) AS BIGINT) AS nt,
         CAST(sum(sp * tm) AS BIGINT) AS x
  FROM pairs GROUP BY event_type
),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pts
  FROM d GROUP BY event_type
)
SELECT n.event_type, n.n_pts,
       (n.n_pts * (n.n_pts - 1)) // 2 AS n_den,
       CAST(COALESCE(m.ns, 0) AS BIGINT) AS ns_space,
       CAST(COALESCE(m.nt, 0) AS BIGINT) AS nt_time,
       CAST(COALESCE(m.x, 0) AS BIGINT) AS x_st,
       COALESCE(m.ns, 0) * COALESCE(m.nt, 0) AS e_num,
       CASE WHEN n.n_pts >= 2 THEN
         (COALESCE(m.ns, 0) * COALESCE(m.nt, 0))
         // ((n.n_pts * (n.n_pts - 1)) // 2) END AS eq_q,
       COALESCE(m.x, 0) * ((n.n_pts * (n.n_pts - 1)) // 2)
         - COALESCE(m.ns, 0) * COALESCE(m.nt, 0) AS excess
FROM n LEFT JOIN m ON m.event_type = n.event_type
""",
        # join counts: definitional — all unordered within-radius
        # pairs, conditional mark counts, same integer product tree
        "join_counts": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
dm AS (
  SELECT *, CASE WHEN x < 500 THEN 1 ELSE 0 END AS m FROM d
),
p AS (
  SELECT a.event_type, a.m AS ma, b.m AS mb
  FROM dm a JOIN dm b
    ON b.event_type = a.event_type AND a.event_id < b.event_id
   AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       <= {_JC_R * _JC_R}
),
pc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS w_pairs,
         CAST(sum(ma * mb) AS BIGINT) AS bb,
         CAST(sum((1 - ma) * (1 - mb)) AS BIGINT) AS ww,
         CAST(sum(ma + mb - 2 * ma * mb) AS BIGINT) AS bw
  FROM p GROUP BY event_type
),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(sum(m) AS BIGINT) AS n1
  FROM dm GROUP BY event_type
)
SELECT n.event_type, n.n_pts, n.n1,
       CAST(COALESCE(pc.w_pairs, 0) AS BIGINT) AS w_pairs,
       CAST(COALESCE(pc.bb, 0) AS BIGINT) AS bb,
       CAST(COALESCE(pc.ww, 0) AS BIGINT) AS ww,
       CAST(COALESCE(pc.bw, 0) AS BIGINT) AS bw,
       n.n_pts * (n.n_pts - 1) AS den,
       COALESCE(pc.w_pairs, 0) * n.n1 * (n.n1 - 1) AS ebb_num,
       COALESCE(pc.w_pairs, 0) * (n.n_pts - n.n1)
         * (n.n_pts - n.n1 - 1) AS eww_num,
       2 * COALESCE(pc.w_pairs, 0) * n.n1
         * (n.n_pts - n.n1) AS ebw_num,
       COALESCE(pc.bb, 0) * n.n_pts * (n.n_pts - 1)
         - COALESCE(pc.w_pairs, 0) * n.n1 * (n.n1 - 1) AS dbb,
       COALESCE(pc.ww, 0) * n.n_pts * (n.n_pts - 1)
         - COALESCE(pc.w_pairs, 0) * (n.n_pts - n.n1)
           * (n.n_pts - n.n1 - 1) AS dww,
       COALESCE(pc.bw, 0) * n.n_pts * (n.n_pts - 1)
         - 2 * COALESCE(pc.w_pairs, 0) * n.n1
           * (n.n_pts - n.n1) AS dbw
FROM n LEFT JOIN pc ON pc.event_type = n.event_type
""",
        # Hausdorff template match: definitional — full cross join,
        # min-then-max both directions, greatest, rank for is_best
        "hausdorff_match": """
WITH p AS (
  SELECT e.user_id,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
t AS (
  SELECT CAST(r_regionkey AS BIGINT) AS tpl_id,
         (CAST(r_regionkey AS BIGINT) * 37 + g.j * 101 + 13) % 1000
           AS tx,
         (CAST(r_regionkey AS BIGINT) * 59 + g.j * 211 + 17) % 1000
           AS ty
  FROM region
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) g
),
c AS (
  SELECT p.user_id, t.tpl_id, p.x, p.y, t.tx, t.ty,
         (p.x - t.tx) * (p.x - t.tx) + (p.y - t.ty) * (p.y - t.ty)
           AS d2
  FROM p CROSS JOIN t
),
ab AS (
  SELECT user_id, tpl_id, CAST(max(m) AS BIGINT) AS h_ab
  FROM (SELECT user_id, tpl_id, x, y, min(d2) AS m
        FROM c GROUP BY user_id, tpl_id, x, y)
  GROUP BY user_id, tpl_id
),
ba AS (
  SELECT user_id, tpl_id, CAST(max(m) AS BIGINT) AS h_ba
  FROM (SELECT user_id, tpl_id, tx, ty, min(d2) AS m
        FROM c GROUP BY user_id, tpl_id, tx, ty)
  GROUP BY user_id, tpl_id
),
j AS (
  SELECT ab.user_id, ab.tpl_id, ab.h_ab, ba.h_ba,
         greatest(ab.h_ab, ba.h_ba) AS h_sym
  FROM ab JOIN ba ON ba.user_id = ab.user_id
                 AND ba.tpl_id = ab.tpl_id
)
SELECT user_id, tpl_id, h_ab, h_ba, h_sym,
       (row_number() OVER (PARTITION BY user_id
                           ORDER BY h_sym, tpl_id) = 1) AS is_best
FROM j
""",
        # areal interpolation: definitional — overlap via greatest/
        # least, closed-box cell areas, quantized piece contributions
        "areal_interp": """
WITH s AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src_id,
         (CAST(n_nationkey AS BIGINT) * 97 + 1) % 900 AS x1,
         (CAST(n_nationkey AS BIGINT) * 131 + 7) % 900 AS y1,
         (CAST(n_nationkey AS BIGINT) * 97 + 1) % 900 + 40
           + CAST(n_nationkey AS BIGINT) % 60 AS x2,
         (CAST(n_nationkey AS BIGINT) * 131 + 7) % 900 + 40
           + (CAST(n_nationkey AS BIGINT) * 3) % 60 AS y2,
         100 + (CAST(n_nationkey AS BIGINT) * 7919) % 900 AS v
  FROM nation
),
t AS (
  SELECT CAST(r_regionkey AS BIGINT) * 5 + g.j AS tgt_id,
         CAST(r_regionkey AS BIGINT) * 200 AS tx1,
         g.j * 200 AS ty1,
         CAST(r_regionkey AS BIGINT) * 200 + 199 AS tx2,
         g.j * 200 + 199 AS ty2
  FROM region
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) g
),
p AS (
  SELECT t.tgt_id,
         (least(s.x2, t.tx2) - greatest(s.x1, t.tx1) + 1)
         * (least(s.y2, t.ty2) - greatest(s.y1, t.ty1) + 1) AS ic,
         (s.v * ((least(s.x2, t.tx2) - greatest(s.x1, t.tx1) + 1)
                 * (least(s.y2, t.ty2) - greatest(s.y1, t.ty1) + 1)))
         // ((s.x2 - s.x1 + 1) * (s.y2 - s.y1 + 1)) AS contrib
  FROM s JOIN t
    ON s.x1 <= t.tx2 AND t.tx1 <= s.x2
   AND s.y1 <= t.ty2 AND t.ty1 <= s.y2
),
g AS (
  SELECT tgt_id, CAST(sum(contrib) AS BIGINT) AS v_q,
         CAST(count(*) AS BIGINT) AS n_src,
         CAST(sum(ic) AS BIGINT) AS inter_cells
  FROM p GROUP BY tgt_id
)
SELECT t.tgt_id,
       CAST(COALESCE(g.v_q, 0) AS BIGINT) AS v_q,
       CAST(COALESCE(g.n_src, 0) AS BIGINT) AS n_src,
       CAST(COALESCE(g.inter_cells, 0) AS BIGINT) AS inter_cells
FROM t LEFT JOIN g ON g.tgt_id = t.tgt_id
""",
        # map matching: definitional replay over ALL (point, segment)
        # pairs — same regime CASE, same floor/rem/frac integers, same
        # total order; the engine's grid candidates must agree exactly
        "snap_segments": f"""
WITH p AS (
  SELECT event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS px,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS py
  FROM events
),
s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS seg_id,
         (CAST(s_suppkey AS BIGINT) * 211 + 5) % 1000 AS x1,
         (CAST(s_suppkey AS BIGINT) * 499 + 11) % 1000 AS y1,
         (CAST(s_suppkey AS BIGINT) * 211 + 5) % 1000
           + (CAST(s_suppkey AS BIGINT) * 53) % 81 - 40 AS x2,
         (CAST(s_suppkey AS BIGINT) * 499 + 11) % 1000
           + (CAST(s_suppkey AS BIGINT) * 29) % 81 - 40 AS y2
  FROM supplier
),
c AS (
  SELECT p.event_id, s.seg_id,
         (s.x2 - s.x1) * (s.x2 - s.x1)
           + (s.y2 - s.y1) * (s.y2 - s.y1) AS l2,
         (p.px - s.x1) * (s.x2 - s.x1)
           + (p.py - s.y1) * (s.y2 - s.y1) AS tnum,
         ((s.x2 - s.x1) * (p.py - s.y1)
           - (s.y2 - s.y1) * (p.px - s.x1))
         * ((s.x2 - s.x1) * (p.py - s.y1)
           - (s.y2 - s.y1) * (p.px - s.x1)) AS c2,
         (p.px - s.x1) * (p.px - s.x1)
           + (p.py - s.y1) * (p.py - s.y1) AS da2,
         (p.px - s.x2) * (p.px - s.x2)
           + (p.py - s.y2) * (p.py - s.y2) AS db2
  FROM p CROSS JOIN s
),
d AS (
  SELECT event_id, seg_id, l2,
         CASE WHEN l2 = 0 OR tnum <= 0 THEN da2
              WHEN tnum >= l2 THEN db2
              ELSE c2 // l2 END AS d2_floor,
         CASE WHEN l2 = 0 OR tnum <= 0 OR tnum >= l2 THEN 0
              ELSE c2 % l2 END AS rem
  FROM c
),
f AS (
  SELECT event_id, seg_id, d2_floor,
         CASE WHEN rem = 0 THEN 0
              ELSE (rem * {1 << 20}) // l2 END AS d2_frac_q
  FROM d
  WHERE d2_floor < {_SNAP_R * _SNAP_R}
     OR (d2_floor = {_SNAP_R * _SNAP_R} AND rem = 0)
),
r AS (
  SELECT event_id, seg_id, d2_floor, d2_frac_q,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY d2_floor, d2_frac_q, seg_id)
           AS rk
  FROM f
)
SELECT event_id, seg_id, CAST(d2_floor AS BIGINT) AS d2_floor,
       CAST(d2_frac_q AS BIGINT) AS d2_frac_q
FROM r WHERE rk = 1
""",
        # focal stats: definitional GATHER — |dcx|<=1 AND |dcy|<=1
        # self-join vs the engine's scatter+agg; same function
        "focal_stats": """
WITH d AS (
  SELECT event_type,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
ras AS (
  SELECT event_type, x // 40 AS cx, y // 40 AS cy,
         CAST(count(*) AS BIGINT) AS v
  FROM d GROUP BY event_type, x // 40, y // 40
),
g AS (
  SELECT a.event_type, a.cx, a.cy,
         CAST(sum(b.v) AS BIGINT) AS f_sum,
         CAST(count(*) AS BIGINT) AS f_cnt,
         CAST(min(b.v) AS BIGINT) AS f_min,
         CAST(max(b.v) AS BIGINT) AS f_max
  FROM ras a JOIN ras b
    ON b.event_type = a.event_type
   AND abs(b.cx - a.cx) <= 1 AND abs(b.cy - a.cy) <= 1
  GROUP BY a.event_type, a.cx, a.cy
)
SELECT r.event_type, r.cx, r.cy, r.v, g.f_sum, g.f_cnt, g.f_min,
       g.f_max
FROM ras r JOIN g
  ON g.event_type = r.event_type AND g.cx = r.cx AND g.cy = r.cy
""",
        # streaming geofence: definitional hit join + the proven
        # session_window replay (merge while gap <= GAP, end = last +
        # gap, append-mode eviction at the us-resolution watermark
        # computed over the FULL point stream)
        "stream_geofence": f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS tu,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
f AS (
  SELECT CAST(n_nationkey AS BIGINT) AS fence_id,
         (CAST(n_nationkey AS BIGINT) * 317 + 41) % 1000 AS cx,
         (CAST(n_nationkey AS BIGINT) * 631 + 97) % 1000 AS cy,
         {_GF_R_BASE} + (CAST(n_nationkey AS BIGINT) % 5)
           * {_GF_R_STEP} AS r
  FROM nation
),
h AS (
  SELECT p.user_id, f.fence_id, p.tu
  FROM p JOIN f
    ON (p.x - f.cx) * (p.x - f.cx) + (p.y - f.cy) * (p.y - f.cy)
       <= f.r * f.r
),
sw AS (
  SELECT user_id, fence_id, tu,
         CASE WHEN ptu IS NULL
                OR tu - ptu > {_SGF_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS nf
  FROM (SELECT *, lag(tu) OVER (PARTITION BY user_id, fence_id
                                ORDER BY tu) AS ptu
        FROM h)
),
sid AS (
  SELECT user_id, fence_id, tu,
         SUM(nf) OVER (PARTITION BY user_id, fence_id ORDER BY tu
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM sw
),
agg AS (
  SELECT user_id, fence_id, sid, MIN(tu) AS su, MAX(tu) AS eu,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM sid GROUP BY user_id, fence_id, sid
),
wm AS (
  SELECT (CAST(FLOOR(MAX(tu) / 1000) AS BIGINT) - {_STREAM_WM_MS})
           * 1000 AS wm_us
  FROM p
)
SELECT user_id, fence_id, su / 1000000.0 AS enter_s,
       (eu + {_SGF_GAP_S * 1_000_000}) / 1000000.0 AS exit_s,
       n_points
FROM agg CROSS JOIN wm
WHERE eu + {_SGF_GAP_S * 1_000_000} <= wm_us
""",
        # quadrat test: definitional — floor-div quadrat counts, the
        # same integer evidence tree
        "quadrat_test": """
WITH d AS (
  SELECT event_type,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
q AS (
  SELECT event_type, x // 100 AS qx, y // 100 AS qy,
         CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY event_type, x // 100, y // 100
)
SELECT event_type, CAST(sum(c) AS BIGINT) AS n_pts,
       CAST(100 AS BIGINT) AS n_quadrats,
       CAST(count(*) AS BIGINT) AS occ,
       CAST(sum(c * c) AS BIGINT) AS sum_sq,
       100 * CAST(sum(c * c) AS BIGINT)
         - CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)
         AS chi2_num
FROM q GROUP BY event_type
""",
        # cross-K: definitional — all cross-type pairs per rung
        "cross_k": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
a AS (SELECT event_id, x, y FROM d WHERE event_type = 'view'),
b AS (SELECT event_id, x, y FROM d WHERE event_type = 'click'),
rungs AS (SELECT CAST(unnest({list(_RIPLEY_RADII)}) AS BIGINT) AS r),
pr AS (
  SELECT (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
           AS dist2
  FROM a JOIN b
    ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       <= {_RIPLEY_RADII[-1] ** 2}
),
p AS (
  SELECT rungs.r, CAST(count(*) AS BIGINT) AS n_pairs
  FROM pr JOIN rungs ON pr.dist2 <= rungs.r * rungs.r
  GROUP BY rungs.r
),
n AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b
)
SELECT rungs.r, n.n_a, n.n_b,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CASE WHEN n.n_a > 0 AND n.n_b > 0 THEN
         ({_RIPLEY_AREA} * COALESCE(p.n_pairs, 0)) // (n.n_a * n.n_b)
       END AS k_q
FROM rungs CROSS JOIN n LEFT JOIN p ON p.r = rungs.r
""",
        # network-Voronoi catchment: chained fixed-round replay with a
        # per-round lexicographic (dist, catchment) rank
        "catchment": _catchment_oracle_sql(),
        # co-location participation: definitional — EXISTS a same-key
        # neighbor of type_b within r, per (a-point, type_b), counted
        # distinct; full type-pair skeleton
        "colocation": f"""
WITH d AS (
  SELECT event_type AS t, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
hit AS (
  SELECT DISTINCT a.t AS type_a, b.t AS type_b, a.event_id
  FROM d a JOIN d b
    ON a.event_id <> b.event_id
   AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       <= {_COLOC_R * _COLOC_R}
),
part AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS pr_num
  FROM hit GROUP BY type_a, type_b
),
tc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY t
)
SELECT ta.t AS type_a, tb.t AS type_b,
       CAST(COALESCE(p.pr_num, 0) AS BIGINT) AS pr_num,
       ta.n AS n_type,
       (COALESCE(p.pr_num, 0) * {1 << 20}) // ta.n AS pr_q
FROM tc ta CROSS JOIN tc tb
LEFT JOIN part p ON p.type_a = ta.t AND p.type_b = tb.t
""",
        # radius of gyration: same sums, same algebraic expansion
        "gyration": """
WITH p AS (
  SELECT e.user_id,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(sum(x) AS BIGINT) AS sum_x,
         CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(x * x + y * y) AS BIGINT) AS ssq
  FROM p GROUP BY user_id
)
SELECT user_id, n_pts, sum_x, sum_y,
       n_pts * ssq - sum_x * sum_x - sum_y * sum_y AS rg2_num,
       n_pts * n_pts AS rg2_den,
       (n_pts * ssq - sum_x * sum_x - sum_y * sum_y)
         // (n_pts * n_pts) AS rg2_q
FROM a
""",
        # displacement histogram: lag + the same edge-count bin rule
        "displacement": f"""
WITH p AS (
  SELECT e.user_id, epoch_us(e.ts) AS tu, e.event_id,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
st AS (
  SELECT user_id,
         (x - lag(x) OVER w) * (x - lag(x) OVER w)
           + (y - lag(y) OVER w) * (y - lag(y) OVER w) AS d2
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
),
s2 AS (SELECT user_id, d2 FROM st WHERE d2 IS NOT NULL),
bc AS (
  SELECT user_id,
         CAST(({" + ".join(f"CASE WHEN {e} <= d2 THEN 1 ELSE 0 END" for e in _DISP_EDGES)}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM s2 GROUP BY 1, 2
),
tot AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(d2) AS BIGINT) AS sum_d2
  FROM s2 GROUP BY user_id
),
bins AS (SELECT CAST(unnest(generate_series(0, {len(_DISP_EDGES)})) AS BIGINT) AS bin)
SELECT t.user_id, bins.bin, t.n_steps, t.sum_d2,
       CAST(COALESCE(bc.n, 0) AS BIGINT) AS n
FROM tot t CROSS JOIN bins
LEFT JOIN bc ON bc.user_id = t.user_id AND bc.bin = bins.bin
""",
        # location diversity: cell counts + deterministic top pick
        "location_diversity": """
WITH p AS (
  SELECT e.user_id,
         ((CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000) // 40
           AS cx,
         ((CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000) // 40
           AS cy
  FROM events e
),
c AS (
  SELECT user_id, cx, cy, CAST(count(*) AS BIGINT) AS n
  FROM p GROUP BY user_id, cx, cy
),
r AS (
  SELECT user_id, cx, cy, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, cx, cy) AS rk,
         CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
           AS n_pings,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
           AS n_cells
  FROM c
)
SELECT user_id, n_pings, n_cells, n AS top_count, cx AS top_cx,
       cy AS top_cy, (n * 1048576) // n_pings AS top_share_q
FROM r WHERE rk = 1
""",
        # dissolve: recursive-CTE min-label closure over the closed-box
        # overlap graph + same component aggs
        "dissolve": """
WITH RECURSIVE r AS (
  SELECT CAST(n_nationkey AS BIGINT) AS rid,
         (CAST(n_nationkey AS BIGINT) * 97 + 1) % 900 AS x1,
         (CAST(n_nationkey AS BIGINT) * 131 + 7) % 900 AS y1,
         (CAST(n_nationkey AS BIGINT) * 97 + 1) % 900 + 40
           + CAST(n_nationkey AS BIGINT) % 60 AS x2,
         (CAST(n_nationkey AS BIGINT) * 131 + 7) % 900 + 40
           + (CAST(n_nationkey AS BIGINT) * 3) % 60 AS y2
  FROM nation
),
e AS (
  SELECT a.rid AS a, b.rid AS b FROM r a JOIN r b
    ON a.x1 <= b.x2 AND b.x1 <= a.x2
   AND a.y1 <= b.y2 AND b.y1 <= a.y2
),
reach AS (
  SELECT rid AS id, rid AS lab FROM r
  UNION
  SELECT reach.id, e.b AS lab FROM reach JOIN e ON e.a = reach.lab
),
comp AS (
  SELECT id, CAST(min(lab) AS BIGINT) AS component_id
  FROM reach GROUP BY id
),
cagg AS (
  SELECT c.component_id, CAST(count(*) AS BIGINT) AS n_rects,
         CAST(min(r.x1) AS BIGINT) AS comp_x1,
         CAST(min(r.y1) AS BIGINT) AS comp_y1,
         CAST(max(r.x2) AS BIGINT) AS comp_x2,
         CAST(max(r.y2) AS BIGINT) AS comp_y2
  FROM comp c JOIN r ON r.rid = c.id
  GROUP BY c.component_id
)
SELECT r.rid, c.component_id, g.n_rects, g.comp_x1, g.comp_y1,
       g.comp_x2, g.comp_y2
FROM r JOIN comp c ON c.id = r.rid
JOIN cagg g ON g.component_id = c.component_id
""",
        # NN distance stats: all-pairs NN rank + the same isqrt tree
        "nn_distance": f"""
WITH d AS (
  SELECT event_type, event_id,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
nn AS (
  SELECT a.event_type, a.event_id,
         min((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
           AS d2
  FROM d a JOIN d b
    ON b.event_type = a.event_type AND b.event_id <> a.event_id
   AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       <= {_NND_RMAX * _NND_RMAX}
  GROUP BY a.event_type, a.event_id
),
iq AS (
  SELECT event_type, d2,
         CASE WHEN (s + 1) * (s + 1) <= d2 THEN s + 1
              WHEN s * s > d2 THEN s - 1 ELSE s END AS dd
  FROM (SELECT event_type, d2,
               CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT) AS s
        FROM nn)
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(d2) AS BIGINT) AS sum_d2,
         CAST(max(d2) AS BIGINT) AS max_d2,
         CAST(sum(dd) AS BIGINT) AS sum_d
  FROM iq GROUP BY event_type
),
t AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pts
  FROM d GROUP BY event_type
)
SELECT t.event_type, t.n_pts,
       CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
       t.n_pts - COALESCE(m.n_matched, 0) AS n_isolated,
       CAST(COALESCE(m.sum_d2, 0) AS BIGINT) AS sum_d2,
       CAST(COALESCE(m.max_d2, 0) AS BIGINT) AS max_d2,
       CAST(COALESCE(m.sum_d, 0) AS BIGINT) AS sum_d
FROM t LEFT JOIN m ON m.event_type = t.event_type
""",
        # directional stats: same sums, same n²-clearing expansion
        "directional": """
WITH p AS (
  SELECT e.user_id,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(sum(x) AS BIGINT) AS sum_x,
         CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM p GROUP BY user_id
)
SELECT user_id, n_pts, sum_x, sum_y,
       n_pts * sxx - sum_x * sum_x AS sxx_num,
       n_pts * syy - sum_y * sum_y AS syy_num,
       n_pts * sxy - sum_x * sum_y AS sxy_num
FROM a
""",
        # mobility report: the three stage oracles chained as CTEs
        "mobility_report": f"""
WITH d AS (
  SELECT user_id, event_id, ts,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
gy AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(count(*) AS BIGINT)
           * CAST(sum(x * x + y * y) AS BIGINT)
           - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)
           - CAST(sum(y) AS BIGINT) * CAST(sum(y) AS BIGINT)
           AS rg2_num,
         CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT)
           AS rg2_den
  FROM d GROUP BY user_id
),
cells AS (
  SELECT user_id, x // 40 AS cx, y // 40 AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY user_id, x // 40, y // 40
),
dv AS (
  SELECT user_id, n_pings, n_cells, n AS top_count
  FROM (
    SELECT user_id, cx, cy, n,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY n DESC, cx, cy) AS rk,
           CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
             AS n_pings,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
             AS n_cells
    FROM cells
  ) WHERE rk = 1
),
p AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS BIGINT)
            AS seq
  FROM d
),
f AS (
  SELECT CAST(n_nationkey AS BIGINT) AS fence_id,
         (CAST(n_nationkey AS BIGINT) * 317 + 41) % 1000 AS cx,
         (CAST(n_nationkey AS BIGINT) * 631 + 97) % 1000 AS cy,
         {_GF_R_BASE} + (CAST(n_nationkey AS BIGINT) % 5)
                        * {_GF_R_STEP} AS r
  FROM nation
),
h AS (
  SELECT p.user_id, f.fence_id, p.seq
  FROM p JOIN f
    ON (p.x - f.cx) * (p.x - f.cx) + (p.y - f.cy) * (p.y - f.cy)
       <= f.r * f.r
),
i AS (
  SELECT *, seq - row_number() OVER (PARTITION BY user_id, fence_id
                                     ORDER BY seq) AS isl
  FROM h
),
vr AS (
  SELECT user_id, fence_id, isl, CAST(count(*) AS BIGINT) AS np
  FROM i GROUP BY user_id, fence_id, isl
),
vis AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_visits,
         CAST(sum(np) AS BIGINT) AS visit_points
  FROM vr GROUP BY user_id
)
SELECT gy.user_id, gy.n_pts, gy.rg2_num, gy.rg2_den,
       gy.rg2_num // gy.rg2_den AS rg2_q,
       dv.n_cells, dv.top_count,
       (dv.top_count * 1048576) // dv.n_pings AS top_share_q,
       CAST(COALESCE(vis.n_visits, 0) AS BIGINT) AS n_visits,
       CAST(COALESCE(vis.visit_points, 0) AS BIGINT) AS visit_points
FROM gy JOIN dv ON dv.user_id = gy.user_id
LEFT JOIN vis ON vis.user_id = gy.user_id
""",
        # Mann-Kendall: definitional sign-pair sum + tie-corrected
        # variance numerator
        "mann_kendall": """
WITH d0 AS (
  SELECT ((CAST(event_id AS BIGINT) * 48271 + 11) % 1000) // 100
           AS qx,
         ((CAST(event_id AS BIGINT) * 16807 + 523) % 1000) // 100
           AS qy,
         epoch_us(date_trunc('day', ts)) AS day_us
  FROM events
),
d AS (
  SELECT qx, qy, day_us, CAST(count(*) AS BIGINT) AS cnt
  FROM d0 GROUP BY qx, qy, day_us
),
n AS (
  SELECT qx, qy, CAST(count(*) AS BIGINT) AS n_pts
  FROM d GROUP BY qx, qy
),
s AS (
  SELECT a.qx, a.qy,
         CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                       WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM d a JOIN d b
    ON b.qx = a.qx AND b.qy = a.qy AND a.day_us < b.day_us
  GROUP BY a.qx, a.qy
),
t AS (
  SELECT qx, qy,
         CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tiesum
  FROM (SELECT qx, qy, cnt, CAST(count(*) AS BIGINT) AS tg
        FROM d GROUP BY qx, qy, cnt)
  GROUP BY qx, qy
)
SELECT n.qx, n.qy, n.n_pts,
       CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
       n.n_pts * (n.n_pts - 1) * (2 * n.n_pts + 5) - t.tiesum
         AS var18_num
FROM n LEFT JOIN s ON s.qx = n.qx AND s.qy = n.qy
JOIN t ON t.qx = n.qx AND t.qy = n.qy
""",
        # incremental gyration matview: full recompute from the final
        # folded state + the same expansion (incremental == recompute)
        "cdc_incr_gyration": """
WITH ch AS (
  SELECT event_id AS k, event_type AS g,
         (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y,
         CASE WHEN ((user_id % 11) + 11) % 11 = 0 THEN 'D'
              ELSE 'U' END AS op,
         event_id AS seq
  FROM events
),
w AS (
  SELECT k, g, x, y, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rk
  FROM ch
),
head AS (SELECT k, g, x, y FROM w WHERE rk = 1 AND op <> 'D'),
a AS (
  SELECT g, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x + y * y) AS BIGINT) AS ssq
  FROM head GROUP BY g
)
SELECT g, cnt, sx, sy, ssq,
       cnt * ssq - sx * sx - sy * sy AS rg2_num,
       cnt * cnt AS rg2_den
FROM a
""",
        # toponym resolution: definitional all-pairs levenshtein
        "toponym_match": """
WITH m0 AS (
  SELECT event_id AS mention_id,
         'NATION_' || CAST(CAST(event_id AS BIGINT) % 25 AS VARCHAR)
           AS nm,
         CAST(event_id AS BIGINT) AS e
  FROM events
),
m AS (
  SELECT mention_id,
         CASE WHEN e % 3 = 0 THEN nm
              ELSE substr(nm, 1,
                          CAST((e // 3) % length(nm) AS INT))
                   || substr(nm,
                             CAST((e // 3) % length(nm) AS INT) + 2,
                             100)
         END AS mention
  FROM m0
),
g AS (
  SELECT CAST(n_nationkey AS BIGINT) AS gaz_id, n_name AS name
  FROM nation
),
j AS (
  SELECT m.mention_id, g.gaz_id,
         CAST(levenshtein(m.mention, g.name) AS BIGINT) AS dist
  FROM m CROSS JOIN g
),
f AS (SELECT * FROM j WHERE dist <= 2)
SELECT mention_id, gaz_id, dist,
       (row_number() OVER (PARTITION BY mention_id
                           ORDER BY dist, gaz_id) = 1) AS is_best
FROM f
""",
        # heading sectors: lag + the same 9-class integer CASE tree
        "heading_sectors": """
WITH p AS (
  SELECT e.user_id, epoch_us(e.ts) AS tu, e.event_id,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
st AS (
  SELECT user_id, x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
),
sec AS (
  SELECT user_id,
         CAST(CASE
           WHEN dx = 0 AND dy = 0 THEN 0
           WHEN abs(dx) = abs(dy) AND dx > 0 AND dy > 0 THEN 2
           WHEN abs(dx) = abs(dy) AND dx < 0 AND dy > 0 THEN 4
           WHEN abs(dx) = abs(dy) AND dx < 0 AND dy < 0 THEN 6
           WHEN abs(dx) = abs(dy) AND dx > 0 AND dy < 0 THEN 8
           WHEN abs(dx) > abs(dy) AND dx > 0 THEN 1
           WHEN abs(dx) > abs(dy) AND dx < 0 THEN 5
           WHEN dy > 0 THEN 3 ELSE 7 END AS BIGINT) AS sector
  FROM st WHERE dx IS NOT NULL
),
c AS (
  SELECT user_id, sector, CAST(count(*) AS BIGINT) AS n
  FROM sec GROUP BY user_id, sector
),
d AS (
  SELECT user_id, sector AS dom_sector,
         CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
           AS n_steps,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, sector) AS rk
  FROM c
)
SELECT c.user_id, c.sector, c.n, d.dom_sector, d.n_steps
FROM c JOIN d ON d.user_id = c.user_id AND d.rk = 1
""",
        # zonal stats: definitional — raster build + box containment
        # join + same aggs; empty zones present
        "zonal_stats": """
WITH d AS (
  SELECT (CAST(event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events
),
ras AS (
  SELECT x // 40 AS cx, y // 40 AS cy,
         CAST(count(*) AS BIGINT) AS v
  FROM d GROUP BY x // 40, y // 40
),
z AS (
  SELECT CAST(n_nationkey AS BIGINT) AS zone_id,
         ((CAST(n_nationkey AS BIGINT) * 97 + 1) % 900) // 40 AS zx1,
         ((CAST(n_nationkey AS BIGINT) * 131 + 7) % 900) // 40
           AS zy1,
         ((CAST(n_nationkey AS BIGINT) * 97 + 1) % 900) // 40 + 1
           + CAST(n_nationkey AS BIGINT) % 4 AS zx2,
         ((CAST(n_nationkey AS BIGINT) * 131 + 7) % 900) // 40 + 1
           + (CAST(n_nationkey AS BIGINT) * 3) % 4 AS zy2
  FROM nation
),
h AS (
  SELECT z.zone_id, r.v
  FROM ras r JOIN z
    ON r.cx >= z.zx1 AND r.cx <= z.zx2
   AND r.cy >= z.zy1 AND r.cy <= z.zy2
),
a AS (
  SELECT zone_id, CAST(count(*) AS BIGINT) AS z_cnt,
         CAST(sum(v) AS BIGINT) AS z_sum,
         CAST(min(v) AS BIGINT) AS z_min,
         CAST(max(v) AS BIGINT) AS z_max
  FROM h GROUP BY zone_id
)
SELECT z.zone_id,
       CAST(COALESCE(a.z_cnt, 0) AS BIGINT) AS z_cnt,
       CAST(COALESCE(a.z_sum, 0) AS BIGINT) AS z_sum,
       a.z_min, a.z_max
FROM z LEFT JOIN a ON a.zone_id = z.zone_id
""",
        # stream steps: plain lag replay (emission on arrival — no
        # eviction arithmetic; single-batch => all steps in-batch)
        "stream_steps": """
WITH p AS (
  SELECT CAST(e.user_id AS BIGINT) AS user_id, epoch_us(e.ts) AS tu,
         (CAST(e.event_id AS BIGINT) * 48271 + 11) % 1000 AS x,
         (CAST(e.event_id AS BIGINT) * 16807 + 523) % 1000 AS y
  FROM events e
),
s AS (
  SELECT user_id, lag(tu) OVER w AS t_prev, tu AS t_curr,
         (x - lag(x) OVER w) * (x - lag(x) OVER w)
           + (y - lag(y) OVER w) * (y - lag(y) OVER w) AS dist2
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY tu, x, y)
)
SELECT user_id, t_prev, t_curr, dist2
FROM s WHERE t_prev IS NOT NULL
""",
    }


_UNIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> x <> '') AS t
  FROM documents
),
ref AS (
  SELECT unnest(t) AS token FROM toks WHERE doc_id % 13 = 0
),
cnts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM ref GROUP BY token
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS total FROM ref
),
dt AS (
  SELECT doc_id, unnest(t) AS token FROM toks
),
agg AS (
  SELECT dt.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS sum_cnt,
         CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM dt LEFT JOIN cnts ON dt.token = cnts.token
  GROUP BY dt.doc_id
)
SELECT toks.doc_id,
       CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(agg.n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN coalesce(agg.n_tokens, 0) > 0
            THEN CAST(agg.sum_cnt AS DOUBLE)
                 / CAST(agg.n_tokens * tot.total AS DOUBLE)
            ELSE 0.0 END AS score
FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id CROSS JOIN tot
"""

_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
                             x -> x <> '') AS t
  FROM documents
),
ch AS (
  SELECT doc_id,
         list_filter(
           list_transform(range(1, len(t) + 1, {_CHUNK_STRIDE}),
                          s -> t[s:s+{_CHUNK_MAX - 1}]),
           c -> len(c) >= {_CHUNK_MIN}) AS cs
  FROM toks
)
SELECT doc_id,
       CAST(unnest(range(0, len(cs))) AS BIGINT) AS chunk_idx,
       unnest(list_transform(cs, c -> CAST(len(c) AS BIGINT))) AS n_tokens,
       unnest(list_transform(cs, c -> list_aggregate(c, 'string_agg', ' ')))
         AS chunk_text
FROM ch
"""
