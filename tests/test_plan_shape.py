"""Plan-shape tests (SURVEY.md §5.2.4): the physical plans that make the
10^12-row posture credible — html never read, filters pushed to parquet,
broadcast where requested, single shuffle in trace prep."""

import pytest
from pyspark.sql import functions as F

from engine import episodes as ep
from engine import trace_prep
from engine.config import DEFAULT


def plan_str(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def pages_parquet(spark, unit_pages_sdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "pages")
    unit_pages_sdf.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_html_column_pruned(pages_parquet):
    """The single biggest 10^12-row win (SURVEY.md §4.2): the binary html
    column must never reach the scan for the geo pipeline."""
    pts = trace_prep.extract_points(pages_parquet, DEFAULT)
    plan = plan_str(pts)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "html" not in scan, scan
    assert "text" in scan  # needed for geotag extraction


def test_lang_filter_pushed_to_scan(pages_parquet):
    pts = trace_prep.extract_points(pages_parquet, DEFAULT)
    plan = plan_str(pts)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    assert "In(lang" in pushed[0] or "EqualTo(lang" in pushed[0], pushed[0]


def test_knn_broadcast_requested(spark, pages_parquet):
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    locs = spark.createDataFrame(
        [("host0000.example", 0, 43.0, -79.0)],
        "host string, location_id int, lat double, lon double")
    out = ep.knn_assign(gp, locs, DEFAULT, broadcast_locations=True)
    assert "BroadcastHashJoin" in plan_str(out)


def test_trace_prep_single_shuffle(pages_parquet):
    """extract (narrow) + fused per-host kernel: exactly ONE exchange
    (hash by host); regression guard against accidental extra shuffles."""
    gp = trace_prep.prep_points(trace_prep.extract_points(pages_parquet,
                                                          DEFAULT), DEFAULT)
    plan = plan_str(gp, "simple")
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan}"
    assert "hashpartitioning(host" in plan


def test_cell_encode_stays_narrow(pages_parquet):
    """X6 after the kernel adds no shuffle."""
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    plan = plan_str(gp, "simple")
    assert plan.count("Exchange") == 1, plan


def test_interpolation_stays_narrow(pages_parquet):
    gp = trace_prep.prep_points(trace_prep.extract_points(pages_parquet,
                                                          DEFAULT), DEFAULT)
    sites = trace_prep.interpolate_sites(gp, DEFAULT)
    plan = plan_str(sites, "simple")
    assert plan.count("Exchange") == 1, plan


def test_locations_prune_semijoin_and_single_wide_exchange(pages_parquet):
    """Chunk-parallel KDE plan shape: the partial-mass stream reaches the
    per-host grid kernel through a LeftSemi prune join (threshold-aware
    bucket prune), and the only wide exchanges on the point stream are the
    chunk repartition and the per-host grouping — the merge happens inside
    the kernel, not as an extra groupBy(host, ix, iy) shuffle."""
    from engine import locations as loc
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    out = loc.detect_locations(gp, DEFAULT)
    plan = plan_str(out, "simple")
    assert "LeftSemi" in plan, plan
    # no exchange keyed by the full (host, ix, iy) cell tuple: the cell
    # merge must NOT be a separate shuffle stage
    assert "hashpartitioning(host#" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "ix#" in ln and "iy#" in ln:
            raise AssertionError(f"unexpected cell-merge exchange: {ln}")


def test_knn_collected_adds_no_exchange(spark, pages_parquet):
    """Closure-broadcast kNN is MAP-ONLY: assigning locations must add zero
    exchanges over the geopoint stream (trace prep's single host shuffle is
    the only one in the plan)."""
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    locs = spark.createDataFrame(
        [("host0000.example", 0, 43.0, -79.0)],
        "host string, location_id int, lat double, lon double")
    out = ep.knn_assign_collected(gp, locs, DEFAULT)
    plan = plan_str(out, "simple")
    assert plan.count("Exchange") == 1, plan


def test_episodes_single_sort_single_window_exchange(spark, pages_parquet):
    """build_episodes' gap/seq logic runs over ONE sort of the episode
    table (two Window nodes — the running gap count consumes the lag
    output so Spark must stack them — but they share the sort; the old
    row_number-after-explode form re-SORTED the exploded rows).  With
    presorted=True over the map-only kNN path the point stream is never
    reshuffled: the only exchanges are trace prep's host shuffle and the
    tiny episode-table window exchange, and the only sorts are trace
    prep's partition sort and the window sort."""
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    locs = spark.createDataFrame(
        [("host0000.example", 0, 43.0, -79.0)],
        "host string, location_id int, lat double, lon double")
    assigned = ep.knn_assign_collected(gp, locs, DEFAULT)
    fast = plan_str(ep.build_episodes(assigned, DEFAULT, presorted=True),
                    "simple")
    assert fast.count("Exchange") == 2, fast
    assert fast.count("Sort ") == 2, fast
    slow = plan_str(ep.build_episodes(assigned, DEFAULT), "simple")
    assert slow.count("Exchange") == 3, slow
    assert slow.count("Sort ") == 3, slow


def test_kde_strategy_pick(spark, pages_parquet):
    """Cost-based KDE strategy: small hint -> single-stage whole-host plan
    (no semi-join prune chain); large hint -> chunk-parallel plan."""
    from engine import locations as loc
    gp = trace_prep.geopoints(pages_parquet, DEFAULT)
    small = loc.detect_locations(gp, DEFAULT, n_points_hint=10_000)
    assert "LeftSemi" not in plan_str(small, "simple")
    big = loc.detect_locations(gp, DEFAULT, n_points_hint=50_000_000)
    assert "LeftSemi" in plan_str(big, "simple")


def test_dedup_spans_plan_shape(spark):
    """dedup_spans' 100-TB posture: the duplicated-hash probe is a LEFT
    SEMI join (hit positions only survive), and the counting exchange
    partitions on the bare gram hash — no doc id, position, or text
    column rides it."""
    from engine import text
    docs = spark.createDataFrame(
        [(i, "w x y z " * 6) for i in range(8)], ["doc_id", "text"])
    plan = plan_str(text.dedup_spans(docs, n=4, min_count=2), "simple")
    assert "LeftSemi" in plan, plan
    # the count-side exchange hashes gh alone
    ex = [ln for ln in plan.splitlines()
          if "Exchange hashpartitioning(gh" in ln]
    assert ex, plan
    assert "text" not in ex[0] and "doc_id" not in ex[0], ex[0]


def test_unigram_lm_score_plan_shape(spark):
    """The LM table joins the exploded corpus on token (broadcast at test
    scale); the corpus text column never reaches the scoring exchange."""
    from engine import text
    docs = spark.createDataFrame(
        [(i, "common words here repeated") for i in range(8)],
        ["doc_id", "text"])
    plan = plan_str(text.unigram_lm_score(docs), "simple")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    exs = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert all("text#" not in ln for ln in exs), exs


def test_chunk_documents_map_only(spark):
    """Context-window chunking is MAP-ONLY: zero exchanges, runs at scan
    speed and preserves input partitioning."""
    from engine import text
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(4)], ["doc_id", "text"])
    plan = plan_str(text.chunk_documents(docs, max_tokens=4), "simple")
    assert "Exchange" not in plan, plan


def test_bm25_postings_prefilter_and_heap_topk(spark):
    """BM25's term prefilter reaches the token stream before any shuffle
    (only matching rows hit the tf exchange) and the final top-k plans as
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from engine import text
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3) for i in range(6)],
        ["doc_id", "text"])
    plan = plan_str(text.bm25_topk(docs, ["alpha", "gamma"], k=3,
                                   eager=False), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q4_exists_decorrelates_to_semi_join(spark):
    """The correlated EXISTS in tpch_q4 must compile to ONE LeftSemi hash
    join carrying the non-equi 'late' predicate — one scan of lineitem
    total, never a per-outer-row subquery re-scan — with the date window
    pushed to the orders scan."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q4(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert "LeftSemi" in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # orders + lineitem once
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "orders" in ln]
    assert pushed and "GreaterThanOrEqual(o_orderdate" in pushed[0], plan


def test_tpch_q21_semi_and_anti_join(spark):
    """Q21's EXISTS + NOT EXISTS pair must compile to one LeftSemi AND
    one LeftAnti hash join against lineitem (three lineitem scans total:
    outer + semi + anti) — never per-outer-row subquery re-scans."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q21(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert plan.count("Scan parquet") == 6, plan  # s, o, n + 3x lineitem


def test_tpch_q17_scalar_subquery_decorrelates(spark):
    """Q17's correlated scalar avg must decorrelate to ONE grouped
    aggregate over lineitem joined back on l_partkey — three parquet
    scans total (outer lineitem, part, agg-side lineitem), never a
    per-outer-row subquery re-execution."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q17(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("Scan parquet") == 3, plan
    assert "avg(l_quantity)" in plan, plan        # the decorrelated agg
    assert "Join" in plan and "Subquery" not in plan, plan


def test_tpch_q2_joined_scalar_subquery_decorrelates(spark):
    """Q2's correlated scalar MIN — whose subquery is itself a 4-table
    join — must decorrelate to ONE aggregated join subtree keyed on
    l_partkey and equi-join back: exactly two lineitem scans (outer +
    agg side), never a per-outer-row re-execution of the joined
    subquery."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q2(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    # outer block p,l,s,n,r + decorrelated agg side l,s,n,r = 9 scans,
    # i.e. lineitem exactly twice — never once per outer row
    assert plan.count("Scan parquet") == 9, plan
    assert "min(l_extendedprice" in plan, plan    # the decorrelated agg
    assert "Subquery" not in plan, plan


def test_tpch_q22_scalar_threshold_plus_anti_join(spark):
    """Q22's uncorrelated scalar avg must run ONCE (a scalar subquery
    node, not a join) while the correlated NOT EXISTS compiles to a
    LeftAnti hash join with the date predicate pushed to the orders
    scan."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q22(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert "LeftAnti" in plan, plan
    assert "Subquery" in plan, plan  # the once-evaluated scalar threshold
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "orders" in ln]
    assert pushed and "GreaterThanOrEqual(o_orderdate" in pushed[0], plan


def test_naaj_not_in_plans_null_aware_anti_join(spark):
    """NOT IN must compile to a NULL-AWARE anti join (three-valued
    logic), not a plain LeftAnti and not a per-row subquery."""
    import re

    import __spark_entry__ as entry
    df = entry.q_naaj_not_in(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    # BroadcastHashJoinExec renders its isNullAwareAntiJoin flag as a
    # trailing ", true" after the build side: "... LeftAnti, BuildRight,
    # true".  A plain (non-null-aware) LeftAnti has no trailing flag.
    assert re.search(r"LeftAnti, Build(Right|Left), true", plan), plan
    assert "Subquery" not in plan, plan


def test_pack_sequences_one_exchange(spark):
    """Sequence packing's only wide op is the per-group running-offset
    window: exactly ONE Exchange, zero Python nodes."""
    import __spark_entry__ as entry
    df = entry.q_pack_sequences(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS must compile to ONE Expand + hash aggregate over a
    single scan — four granularities share the scan and the exchange,
    not four separate groupBy jobs."""
    import __spark_entry__ as entry
    df = entry.q_a9_grouping_sets(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_rank_family_single_window(spark):
    """All six ranking functions share one window spec, so the plan has
    exactly ONE Window operator (one exchange + one sort, not six)."""
    import __spark_entry__ as entry
    df = entry.q_w7_rank_family(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("Window") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_embed_quantize_map_only(spark):
    """int8 scalar quantization is scan-speed: zero exchanges, zero
    Python nodes in the plan."""
    import pandas as pd

    from engine.similarity import quantize_int8
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [1, 2], "embedding": [[0.5, -1.0], [0.0, 0.0]]}))
    plan = plan_str(quantize_int8(emb), "simple")
    for node in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_runtime_bloom_filter_on_large_large_join(spark):
    """Large-large join with a selective non-broadcastable dim side: the
    engine session enables runtime bloom-filter injection
    (engine/session.py), so the fact-side scan must carry a
    might_contain(bloom_filter_agg(dim keys)) filter — non-qualifying
    rows die before the shuffle.  Thresholds are forced here to model
    the past-the-broadcast-envelope regime at unit scale."""
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        p = (spark.read.parquet("/root/testdata/sf0.001/part.parquet")
             .filter(F.col("p_brand") == "Brand#1"))
        j = (li.join(p, li.l_partkey == p.p_partkey)
             .groupBy("p_brand").count())
        plan = plan_str(j, "simple")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_encode_map_only(spark):
    """Encoding with a learned merge table is scan-speed: the merge chain
    is literal replaces in codegen — zero exchanges, zero Python nodes."""
    from engine.tokenizer import bpe_encode
    docs = spark.createDataFrame([(0, "low lower")], ["doc_id", "text"])
    merges = [(1, "l", "o", "lo", 3), (2, "lo", "w", "low", 3)]
    plan = plan_str(bpe_encode(docs, merges), "simple")
    for node in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_tiling_stencil_udf_free(spark):
    """The raster stencil path (kring_smooth and extract_components' edge
    expansion) must stay entirely JVM-side after the native k-ring rewrite:
    no Arrow/Python evaluation nodes anywhere in either plan — the decode,
    ring explode and re-encode are codegen expressions + one Generate."""
    import pandas as pd

    from engine import geo, tiles
    cells = geo.cell_encode([43.65, 43.66, 45.0], [-79.38, -79.40, 45.0],
                            DEFAULT.cell_level)
    dens = spark.createDataFrame(
        pd.DataFrame({"cell_id": cells.astype("int64"),
                      "mass_s": [10.0, 20.0, 30.0]}))
    for df in (tiles.kring_smooth(dens),
               tiles.extract_components(dens, threshold_s=1.0)):
        plan = plan_str(df, "simple")
        for node in ("ArrowEvalPython", "BatchEvalPython", "pythonUDF",
                     "MapInPandas"):
            assert node not in plan, f"{node} in plan:\n{plan}"


@pytest.mark.parametrize("salted,n_exchanges", [(True, 3), (False, 2)])
def test_tile_pyramid_one_aggregation(spark, salted, n_exchanges):
    """The tile pyramid reads the density once and aggregates every level
    in ONE exchange: the salted density's two exchanges (or the plain
    one's one) plus one (level, cell_id) exchange, and a single copy of
    the site scan and cell encode beneath them."""
    from engine import tiles
    sites = spark.createDataFrame(
        [(43.65 + i * 1e-3, -79.38, float(i)) for i in range(20)],
        "site_lat double, site_lon double, mass_s double")
    pyr = tiles.rollup_pyramid(tiles.cell_density(sites, salted=salted))
    plan = plan_str(pyr, "simple")
    assert plan.count("Exchange") == n_exchanges, plan
    assert plan.count("Exchange hashpartitioning(level") == 1, plan
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert plan.count("Generate inline") == 1, plan
    assert "Union" not in plan, plan


def test_lateral_topk_plans_partial_group_limit(spark):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate to a ranked
    window with WindowGroupLimit pushdown, with a PARTIAL group-limit
    running map-side BEFORE the exchange (each task forwards <= 3 rows
    per customer) — not a per-customer subquery re-scan."""
    import __spark_entry__ as entry
    df = entry.q_lateral_topk(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    assert "Subquery" not in plan, plan


def test_unpivot_is_map_only_reshape(spark):
    """unpivot compiles to Expand: the wide->long melt itself must add
    ZERO exchanges (the only shuffle is the final per-measure agg)."""
    import __spark_entry__ as entry
    df = entry.q_unpivot_melt(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert "Expand" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 1, plan


def test_mg_summary_shuffle_is_counter_rows_only(spark):
    """The heavy-hitter plan's only exchange carries the per-partition
    counter summaries (<= k rows each), never exploded tokens: the
    aggregate must sit ABOVE the Python map stage."""
    from engine.sketch import heavy_hitters_mg  # noqa: F401  (plan built inside)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from engine.text import tokens_col
    import pandas as pd  # noqa: F401

    # reproduce the pre-collect plan (heavy_hitters_mg collects; build
    # the same lazy plan here to inspect it)
    def summarize(batches):
        for pdf in batches:
            yield pd.DataFrame({"token": [], "est": []})

    parts = (docs.select(tokens_col(F.col("text")).alias("_toks"))
             .mapInPandas(summarize, "token string, est long"))
    merged = parts.groupBy("token").agg(F.sum("est").alias("est"))
    plan = plan_str(merged, "simple")
    assert "MapInPandas" in plan, plan
    # exactly one exchange, and it is above the Python stage
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange") < plan.index("MapInPandas"), plan
    assert "Generate" not in plan, plan  # no token explode anywhere


def test_tpch_q19_disjunction_pushes_to_both_scans(spark):
    """Q19's OR-of-ANDs references both join sides, so the full predicate
    cannot sink below the join — but Catalyst must EXTRACT the side-local
    disjunctions and push them into BOTH parquet scans (two scans total,
    each carrying an Or(...) pushed filter), leaving only the residual on
    the join."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q19(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("Scan parquet") == 2, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    withor = [ln for ln in pushed if "Or(" in ln]
    assert len(withor) == 2, plan


def test_tpch_q20_nested_in_stacks_two_semi_joins(spark):
    """Q20's nested INs must compile to two stacked LeftSemi joins
    (supplier <- aggregated lineitem <- part) with the aggregate built
    once — three scans total, no per-outer-row re-execution."""
    import __spark_entry__ as entry
    df = entry.q_tpch_q20(spark, "/root/testdata/sf0.001")
    plan = plan_str(df, "simple")
    assert plan.count("LeftSemi") == 2, plan
    assert plan.count("Scan parquet") == 3, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime skew handling (the AQE complement to ops.salted_join):
    one key holding 2/3 of the fact side forces a skewed SMJ partition;
    with broadcast disabled and the skew thresholds at test scale, the
    FINAL adaptive plan must carry the skew=true split marker — the hot
    partition was cut into subpartitions at runtime, no manual salt."""
    from pyspark.sql import functions as F
    big = spark.range(0, 300000).select(
        F.when(F.col("id") < 200000, F.lit(0))
        .otherwise((F.col("id") % 97) + 1).alias("k"),
        F.col("id").alias("v"))
    dim = spark.range(0, 98).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("w"))
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "65536")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        j = big.join(dim, "k")
        assert len(j.collect()) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cbo_statistics_reorder_three_way_join(spark):
    """Cost-based join reordering: with ANALYZE ... FOR ALL COLUMNS
    statistics and CBO on, a big JOIN mid JOIN small chain written in
    worst-first syntactic order must be reordered so the reducing
    (mid x small) join runs before the big fact enters; with CBO off the
    optimizer keeps the syntactic order.  (On a real warehouse these
    stats come from the table format; the demonstration pins that the
    engine's tables feed the optimizer, not that we hand-schedule.)"""
    import os
    import re
    import shutil

    from pyspark.sql import functions as F
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("cbo_big", "cbo_small", "cbo_mid"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    spark.range(0, 200000).select(
        (F.col("id") % 1000).alias("a"), F.col("id").alias("pay")) \
        .write.saveAsTable("cbo_big")
    spark.range(0, 50).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")) \
        .write.saveAsTable("cbo_small")
    spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("a"), (F.col("id") % 7).alias("b"),
        F.col("id").alias("m")).write.saveAsTable("cbo_mid")
    for t in ("cbo_big", "cbo_small", "cbo_mid"):
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
    q = """SELECT count(*) FROM cbo_big b
           JOIN cbo_mid m ON b.a = m.a
           JOIN cbo_small s ON m.b = s.b"""
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")}
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        on = re.findall(r"cbo_\w+", spark.sql(q)._jdf.queryExecution()
                        .optimizedPlan().toString())
        spark.conf.set("spark.sql.cbo.enabled", "false")
        off = re.findall(r"cbo_\w+", spark.sql(q)._jdf.queryExecution()
                         .optimizedPlan().toString())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for t in ("cbo_big", "cbo_small", "cbo_mid"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert off[0] == "cbo_big", off           # syntactic order kept
    assert on[0] != "cbo_big", on             # CBO defers the fact table
    assert set(on[:2]) == {"cbo_mid", "cbo_small"}, on


def test_no_cartesian_or_rowwise_python_in_hot_plans(spark):
    """Global plan hygiene across a representative slice of the driver
    surface: no CartesianProduct and no row-at-a-time Python eval
    (BatchEvalPython) anywhere — Python appears only as Arrow-batched
    kernels (ArrowEvalPython / mapInPandas), and every join has keys.
    Queries whose Spark side is a DOCUMENTED all-pairs oracle twin
    (dedup_ngram_jaccard, cosine exact twins) are excluded by design;
    everything here is a production path."""
    import __spark_entry__ as entry
    qs = entry.queries()
    hot = ["x5_extract_geopoints", "geo_sessions", "f3_seq_dedup",
           "j1_knn_assign", "j3_interval_overlap", "j3_interval_binned",
           "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q19", "tpch_q20",
           "dedup_exact", "dedup_paragraphs", "dedup_minhash_lsh",
           "dedup_spans", "decontaminate", "decontaminate_bloom",
           "fuzzy_pairs", "vocab_topk", "bm25_topk", "quality_buckets",
           "chunk_documents", "pack_sequences", "sample_stratified",
           "count_min", "curation_pipeline", "a7_daily_summary",
           "a9_distinct", "w2_sessionize", "o2_topk",
           # round-5 operators
           "funnel_steps", "cohort_retention", "transition_matrix",
           "histogram_values", "zscore_outliers", "inverted_index",
           "phrase_search", "table_fingerprint", "profile_columns",
           "global_ordinal", "ewma_values", "weighted_median",
           "linreg_trend", "triangle_counts", "jaccard_prefix_join",
           "interval_coverage", "skyline_2d", "bfs_distances",
           "pmi_collocations", "asof_nearest", "running_median",
           "polygon_stats", "cusum_alarm", "top_paths", "trimmed_mean",
           "simplify_radial", "negative_sampling", "audience_overlap",
           "a9_rollup", "w10_ratio_to_report", "sample_bottomk",
           "gini_concentration", "lift_table", "max_drawdown",
           "diversified_topk", "golden_record", "mad_scale",
           "benford_digits", "label_propagation", "k_core",
           "band_join", "quantiles_disc", "radius_join_2d",
           "autocorr_lag1", "basket_pairs", "attribution_last_touch",
           "link_pred_cn", "rfm_segments", "od_flows", "hotspot_gi",
           "ab_test_2prop", "chi2_independence", "welch_ttest",
           "merge_intervals", "geo_radius_join",
           # round-5 spatial wave (hausdorff_match excluded: its
           # broadcast cross is an intentional BroadcastNestedLoop
           # against a dim-sized template library)
           "st_radius_join", "knn_join", "skyline_rows",
           "geofence_visits", "idw_grid", "ripley_k", "knox_test",
           "join_counts", "areal_interp", "snap_segments",
           "focal_stats", "quadrat_test", "cross_k",
           "comovement", "emerging_hotspots", "rect_union_area",
           "bbox_join", "segment_join",
           "colocation", "gyration", "displacement",
           "location_diversity", "dissolve", "nn_distance",
           "directional", "mann_kendall", "catchment",
           "mobility_report", "toponym_match", "heading_sectors",
           "cdc_incr_gyration"]
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name in hot:
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [m for m in ("CartesianProduct", "BatchEvalPython")
                if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_bloom_probe_stage_is_join_free(spark):
    """decontaminate_bloom's scale claim: the corpus probe has NO join
    build side at all — the bitmap rides as a literal array into codegen.
    The plan's ONLY join is the final per-doc re-anchor (same as exact
    decontaminate); the probe + hit-count subtree is join-free."""
    from engine import text
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(40)], ["doc_id", "text"])
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    out = text.decontaminate_bloom(docs, bench, n=3, m_bits=4096, k=3)
    plan = plan_str(out, "simple")
    import re
    assert len(re.findall(r"\wJoin", plan)) == 1, plan


def _binned_interval_join(spark):
    from datetime import datetime, timezone

    from engine import ops
    u = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731
    a = spark.createDataFrame([(1, 1, u(0), u(7200))],
                              ["k", "aid", "start_ts", "end_ts"])
    b = spark.createDataFrame([(1, 2, u(100), u(9000))],
                              ["k", "bid", "start_ts", "end_ts"])
    return ops.interval_overlap_join_binned(a, b, ["k"], bin_s=3600)


def _radius_join_2d(spark):
    from engine import ops
    a = spark.createDataFrame([(1, 1, 0, 0)], ["k", "a_id", "x", "y"])
    b = spark.createDataFrame([(1, 2, 3, 4)], ["k", "b_id", "u", "v"])
    return ops.radius_join_2d(a, b, ["k"], "x", "y", "u", "v", 5)


def _geo_radius_join(spark):
    from engine import ops
    a = spark.createDataFrame([(1, 43.65, -79.38)], ["a_id", "lat", "lon"])
    b = spark.createDataFrame([(2, 43.651, -79.381)],
                              ["b_id", "blat", "blon"])
    return ops.geo_radius_join(a, b, "lat", "lon", "blat", "blon", 500.0)


def _st_radius_join(spark):
    from engine import ops
    a = spark.createDataFrame([(1, 1, 0, 0, 0)],
                              ["k", "a_id", "x", "y", "t"])
    b = spark.createDataFrame([(1, 2, 3, 4, 5)],
                              ["k", "b_id", "u", "v", "s"])
    return ops.st_radius_join(a, b, ["k"], ("x", "y", "t"),
                              ("u", "v", "s"), 5, 10)


def _bbox_overlap_join(spark):
    from engine import ops
    a = spark.createDataFrame([(1, 1, 0, 0, 9, 9)],
                              ["k", "a_id", "x1", "y1", "x2", "y2"])
    b = spark.createDataFrame([(1, 2, 5, 5, 20, 20)],
                              ["k", "b_id", "u1", "v1", "u2", "v2"])
    return ops.bbox_overlap_join(a, b, ["k"], ("x1", "y1", "x2", "y2"),
                                 ("u1", "v1", "u2", "v2"), 8)


def _snap_to_segments(spark):
    from engine import spatial
    pts = spark.createDataFrame([(1, 3, 4)], ["p_id", "px", "py"])
    segs = spark.createDataFrame([(1, 0, 0, 10, 0)],
                                 ["seg_id", "x1", "y1", "x2", "y2"])
    return spatial.snap_to_segments(pts, segs, [], "px", "py",
                                    "x1", "y1", "x2", "y2", 5)


@pytest.mark.parametrize("build", [
    _binned_interval_join, _radius_join_2d, _geo_radius_join,
    _st_radius_join, _bbox_overlap_join, _snap_to_segments,
], ids=lambda f: f.__name__.lstrip("_"))
def test_grid_join_generates_each_pair_once(spark, build):
    """Grid candidate joins generate every candidate pair exactly once —
    the probe side replicates over neighbour cells while the build side
    keeps its one true cell, or a canonical-cell filter keeps one copy —
    so the plan holds exactly the ONE equi join and no pair-dedup
    aggregate above it."""
    import re
    plan = plan_str(build(spark), "simple")
    assert len(re.findall(r"\wJoin", plan)) == 1, plan
    assert "HashAggregate" not in plan.split("Join")[0], plan


def test_simhash_near_pairs_plans_one_band_join(spark):
    """SimHash banding posexplodes each doc into its (band, key) rows and
    self-joins them once on (band, key): one join for all 9 bands of
    max_hamming 8, not one join per band."""
    import re
    from engine import text
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i % 7} shared words") for i in range(20)],
        ["doc_id", "text"])
    out = text.simhash_near_pairs(text.simhash(docs), max_hamming=8)
    plan = plan_str(out, "simple")
    assert len(re.findall(r"\wJoin", plan)) == 1, plan


def test_pca_projection_is_map_only(spark):
    """PCA's projection claim: after the (tiny, driver-side) Gram solve,
    scoring the corpus is MAP-ONLY — the final projection plan contains
    no Exchange, no join, no Python; components are literals."""
    import numpy as np

    from engine import decomposition as dc
    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dc.pca_power_quant(df)
    plan = plan_str(out, "simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_round5_scale_claims_plan_pins(spark):
    """Evidence for the round-5 operators' documented scale postures:
    (1) rank-filter top-k ops plan as per-partition heaps
    (WindowGroupLimit), not full per-key sorts; (2) the fold/agg family
    pays exactly ONE shuffle — funnel, histogram, cohort each show a
    single Exchange in the executed plan."""
    import re

    import pandas as pd

    from engine import ops
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"] * 50, "i": range(100),
                      "v": [i * 7 % 43 for i in range(100)]}))
    bk = ops.sample_bottomk(df, ["k"], "i", k=3)
    assert "WindowGroupLimit" in \
        bk._jdf.queryExecution().executedPlan().toString()
    dv = ops.diversified_topk(df, "k", "v", "i", k=5, per_group=2)
    assert "WindowGroupLimit" in \
        dv._jdf.queryExecution().executedPlan().toString()

    ts = df.withColumn("ts", F.timestamp_micros(F.col("i") * 1_000_000))
    budgets = {
        # fold family: ONE hash exchange (the keys shuffle)
        "funnel": (ops.funnel_prefix(
            ts.withColumn("st", F.col("v") % 3),
            "k", "ts", "st", [0, 1, 2], tiebreak="i"), 1),
        "histogram": (ops.histogram_equiwidth(df, ["k"], "v",
                                              width=10), 1),
        # cohort's documented shape: distinct + user min-agg + final
        # count — three small exchanges, never the raw payload twice
        "cohort": (ops.cohort_retention(ts, "k", "ts", bucket_s=10), 3),
    }
    for name, (q, budget) in budgets.items():
        plan = q._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex <= budget, (name, n_ex, budget)
