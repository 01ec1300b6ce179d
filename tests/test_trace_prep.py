"""Trace-prep pipeline tests (SURVEY.md §5.2): fused-kernel vs window-expr
contract, mass conservation, partitioning invariance, plan shape."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import ops, trace_prep
from engine.config import DEFAULT


def test_extract_points_basic(unit_pages_sdf, unit_pages):
    pts = trace_prep.extract_points(unit_pages_sdf)
    pdf = pts.toPandas()
    assert len(pdf) > 0
    # all extracted accuracies pass F2
    assert (pdf["acc_m"] <= DEFAULT.min_accuracy_m).all()
    # host parsed from url
    assert pdf["host"].str.match(r"host\d{4}\.example").all()
    # byte-stability (X5): re-parsing the printed token reproduces the floats
    raw = unit_pages[0].set_index("url")["text"]
    sample = pdf.sample(50, random_state=1)
    for _, r in sample.iterrows():
        assert f"[geo:{r.lat:.6f},{r.lon:.6f};acc={r.acc_m:.1f}]" in raw[r.url]


def test_fused_kernel_matches_window_ops(spark, unit_pages_sdf):
    """The Arrow kernel (F3+G1+W2+A1) must agree with the declarative
    window-expression forms in engine/ops.py on the rows it keeps."""
    raw = trace_prep.extract_points(unit_pages_sdf)
    fused = trace_prep.prep_points(raw).cache()

    surviving = fused.select("url")
    via_ops = (raw.join(surviving, "url", "left_semi"))
    via_ops = ops.sessionize(via_ops, ["host"], "warc_ts", DEFAULT.gap_s)
    via_ops = ops.time_weights(via_ops, ["host", "subset_id"], "warc_ts")

    a = fused.select("url", "subset_id", "weight_s").toPandas().set_index("url").sort_index()
    b = via_ops.select("url", "subset_id", "weight_s").toPandas().set_index("url").sort_index()
    assert len(a) == len(b)
    pd.testing.assert_series_equal(a["subset_id"].astype("int64"),
                                   b["subset_id"].astype("int64"))
    np.testing.assert_allclose(a["weight_s"], b["weight_s"], atol=1e-6)


def test_seq_dedup_and_jump_removal(spark, unit_pages_sdf):
    raw = trace_prep.extract_points(unit_pages_sdf)
    fused = trace_prep.prep_points(raw).toPandas()
    # F3: no surviving consecutive duplicates per host
    for _, g in fused.sort_values(["host", "warc_ts", "url"]).groupby("host"):
        lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
        dup = (lat[1:] == lat[:-1]) & (lon[1:] == lon[:-1])
        assert not dup.any()
    # G1: no surviving interior point with implausible speed on both sides
    from engine.geo import haversine_m
    for _, g in fused.sort_values(["host", "warc_ts", "url"]).groupby("host"):
        t = g["warc_ts"].to_numpy("datetime64[us]").astype(np.int64) / 1e6
        d = haversine_m(g["lat"].to_numpy()[:-1], g["lon"].to_numpy()[:-1],
                        g["lat"].to_numpy()[1:], g["lon"].to_numpy()[1:])
        speed = d / np.maximum(np.diff(t), 1e-9)
        fast = speed > DEFAULT.max_speed_ms
        assert not (fast[:-1] & fast[1:]).any()


def test_weights_sum_to_observed_span(spark, unit_pages_sdf):
    fused = trace_prep.prep_points(trace_prep.extract_points(unit_pages_sdf))
    agg = (fused.groupBy("host", "subset_id")
           .agg(F.sum("weight_s").alias("w"),
                (F.max(F.col("warc_ts").cast("double"))
                 - F.min(F.col("warc_ts").cast("double"))).alias("span"))
           .toPandas())
    np.testing.assert_allclose(agg["w"], agg["span"], atol=1e-6)


def test_interpolation_mass_conservation(spark, unit_pages_sdf):
    fused = trace_prep.prep_points(trace_prep.extract_points(unit_pages_sdf))
    sites = trace_prep.interpolate_sites(fused)
    m = (sites.groupBy("host", "subset_id").agg(F.sum("mass_s").alias("mass"))
         .toPandas().set_index(["host", "subset_id"]).sort_index())
    span = (fused.groupBy("host", "subset_id")
            .agg((F.max(F.col("warc_ts").cast("double"))
                  - F.min(F.col("warc_ts").cast("double"))).alias("span"))
            .filter(F.col("span") > 0)
            .toPandas().set_index(["host", "subset_id"]).sort_index())
    joined = span.join(m, how="left")
    np.testing.assert_allclose(joined["mass"], joined["span"], atol=1e-6)


def test_partitioning_invariance(spark, unit_pages_sdf):
    """Output identical at 2 vs 8 shuffle partitions (SURVEY.md §5.2.3)
    and with 7-row Arrow batches, which split host runs across batch
    boundaries in the host-run streams: geopoints, whole-host locations
    and presorted episodes."""
    from engine import episodes as ep
    from engine import locations as loc

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_batch = spark.conf.get(batch_conf)

    def run(in_parts, shuf, batch):
        spark.conf.set("spark.sql.shuffle.partitions", str(shuf))
        spark.conf.set(batch_conf, str(batch))
        gp = trace_prep.geopoints(unit_pages_sdf.repartition(in_parts))
        gp = gp.cache()
        locs = loc.detect_locations_wholehost(gp).cache()
        eps = ep.build_episodes(ep.knn_assign_collected(gp, locs),
                                presorted=True)
        out = (gp.toPandas().sort_values("url").reset_index(drop=True)
               [["url", "subset_id", "weight_s", "cell_id"]],
               locs.toPandas().sort_values(["host", "location_id"])
               .reset_index(drop=True),
               eps.toPandas().sort_values(["host", "seq"])
               .reset_index(drop=True))
        gp.unpersist()
        locs.unpersist()
        return out

    try:
        outs = [run(2, 2, default_batch), run(16, 8, default_batch),
                run(16, 8, 7)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(batch_conf, default_batch)
    assert len(outs[0][1]) > 0 and len(outs[0][2]) > 0
    for out in outs[1:]:
        for a, b in zip(outs[0], out):
            pd.testing.assert_frame_equal(a, b)


def test_geopoints_cell_level(spark, unit_pages_sdf):
    from engine import geo
    gp = trace_prep.geopoints(unit_pages_sdf).limit(200).toPandas()
    assert (geo.cell_level(gp["cell_id"].to_numpy(np.int64))
            == DEFAULT.cell_level).all()
    # cell centers are near the points
    clat, clon = geo.cell_center_latlng(gp["cell_id"].to_numpy(np.int64),
                                        DEFAULT.cell_level)
    d = geo.haversine_m(gp["lat"], gp["lon"], clat, clon)
    assert d.max() < 2 * geo.cell_edge_m(DEFAULT.cell_level)


def test_change_segments_null_first_label(spark):
    """W3 contract: segment ids are 0-based even when a partition's FIRST
    label is NULL (the lag-null + eqNullSafe trick alone yields -1 there)."""
    import pandas as pd
    from engine import ops
    pdf = pd.DataFrame({
        "g": ["x"] * 4 + ["y"] * 2,
        "ts": pd.to_datetime(
            ["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:02",
             "2024-01-01 00:03", "2024-01-01 00:00", "2024-01-01 00:01"]),
        "lab": pd.array([None, None, "a", None, "b", "b"], dtype="string"),
    })
    out = (ops.change_segments(spark.createDataFrame(pdf), ["g"], ["ts"], "lab")
           .toPandas().sort_values(["g", "ts"]))
    assert list(out[out["g"] == "x"]["segment_id"]) == [0, 0, 1, 2]
    assert list(out[out["g"] == "y"]["segment_id"]) == [0, 0]


def test_interval_binned_equals_plain(spark):
    """The binned range join is output-identical to the plain equi-key +
    residual join across bin sizes, including intervals aligned exactly
    on bin boundaries, spanning many bins, and zero-length ones."""
    from datetime import datetime, timezone

    from engine import ops
    u = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731
    H = 3600
    a_rows = [(1, 1, u(0), u(2 * H)), (1, 2, u(2 * H), u(2 * H + 1)),
              (1, 3, u(5 * H), u(9 * H)), (2, 4, u(0), u(10)),
              (2, 5, u(H), u(H)),                      # zero-length
              (1, 6, u(7 * H + 60), u(6 * H))]         # INVERTED (e < s)
    b_rows = [(1, 11, u(H), u(3 * H)), (1, 12, u(2 * H), u(4 * H)),
              (1, 13, u(8 * H + 1800), u(20 * H)),     # spans many bins
              (2, 14, u(5), u(2 * H)), (3, 15, u(0), u(H)),
              (1, 16, u(4 * H + 1800), u(30 * H)),     # spans inverted a
              (2, 17, u(2 * H), u(30))]                # INVERTED (e < s)
    a = spark.createDataFrame(a_rows, ["k", "aid", "start_ts", "end_ts"])
    b = spark.createDataFrame(b_rows, ["k", "bid", "start_ts", "end_ts"])
    plain = sorted((r.k, r.aid, r.bid, r.overlap_s)
                   for r in ops.interval_overlap_join(a, b, ["k"]).collect())
    assert plain, "fixture must produce overlaps"
    for bin_s in (60, 1800, 3600, 7200):
        binned = sorted(
            (r.k, r.aid, r.bid, r.overlap_s)
            for r in ops.interval_overlap_join_binned(
                a, b, ["k"], bin_s=bin_s).collect())
        assert binned == plain, bin_s
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.interval_overlap_join_binned(a, b, ["k"], bin_s=0)


def test_interval_max_concurrency_sweep(spark):
    """Sweep-line concurrency vs a brute-force stabbing check, including
    the touch rule: [a,b] and [b,c] are NOT concurrent at b (closings
    order before openings at the same instant)."""
    from datetime import datetime, timezone

    u = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731
    rows = [("g", u(0), u(10)), ("g", u(5), u(20)), ("g", u(10), u(30)),
            ("g", u(10), u(12)),          # opens exactly as #1 closes
            ("g", u(40), u(50)),
            ("h", u(0), u(1)), ("h", u(1), u(2)), ("h", u(2), u(3))]
    df = spark.createDataFrame(rows, ["k", "start_ts", "end_ts"])
    out = {r.k: r.max_concurrent
           for r in ops.interval_max_concurrency(df, ["k"]).collect()}
    # brute force: stab at every start instant (max is attained at one)
    for k, want in out.items():
        ivs = [(s.timestamp(), e.timestamp())
               for kk, s, e in rows if kk == k]
        brute = max(sum(1 for s, e in ivs if s <= t < e)
                    for t, _ in ivs)
        assert want == brute, k
    assert out["h"] == 1  # chained touches never overlap


def test_skyline_2d_brute(spark):
    """Staircase skyline equals the brute-force dominance filter, with
    duplicate points and per-x ties collapsed to the frontier row."""
    pts = [("a", 1, 5), ("a", 2, 4), ("a", 2, 9), ("a", 3, 4), ("a", 3, 4),
           ("a", 5, 1), ("a", 4, 9),  # (2,9) dominated by (4,9)
           ("b", 1, 1), ("b", 1, 1)]
    df = spark.createDataFrame(pts, ["k", "x", "y"])
    got = sorted((r.k, r.x, r.y)
                 for r in ops.skyline_2d(df, ["k"], "x", "y").collect())
    uniq = sorted(set(pts))
    brute = sorted(
        (k, x, y) for (k, x, y) in uniq
        if not any(kk == k and (xx, yy) != (x, y) and xx >= x and yy >= y
                   for (kk, xx, yy) in uniq))
    assert got == brute
    assert ("a", 4, 9) in got and ("a", 2, 9) not in got


def _python_funnel(events, steps):
    """Independent greedy subsequence replay: events = [(user, ts_us, tb,
    type)]; returns {user: (n_steps, first_us, last_us)} over users with
    >= 1 relevant event."""
    by_user = {}
    for u, ts, tb, ty in events:
        if ty in steps:
            by_user.setdefault(u, []).append((ts, tb, ty))
    out = {}
    for u, evs in by_user.items():
        k, first, last = 0, None, None
        for ts, _tb, ty in sorted(evs):
            if k < len(steps) and ty == steps[k]:
                if k == 0:
                    first = ts
                last = ts
                k += 1
        out[u] = (k, first, last)
    return out


def _run_funnel(spark, events, steps):
    df = spark.createDataFrame(
        pd.DataFrame(events, columns=["user_id", "ts_us", "event_id",
                                      "event_type"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = ops.funnel_prefix(df, "user_id", "ts", "event_type",
                            list(steps), tiebreak="event_id").collect()
    return {r["user_id"]: (r["n_steps"], r["first_us"], r["last_us"])
            for r in got}


def test_funnel_matches_python_oracle(spark):
    rng = np.random.default_rng(11)
    types = ["view", "click", "purchase", "error", "signup"]
    events = [(int(rng.integers(0, 12)), int(rng.integers(0, 10_000_000)),
               i, types[int(rng.integers(0, len(types)))])
              for i in range(400)]
    steps = ("view", "click", "purchase")
    assert _run_funnel(spark, events, steps) == _python_funnel(events, steps)


def test_funnel_order_and_zero_depth(spark):
    # purchase BEFORE the first view never counts; a user with only
    # non-initial steps sits at depth 0 with null times; ties at one
    # instant resolve by the tiebreak column.
    ev = [(1, 100, 0, "purchase"), (1, 200, 1, "view"), (1, 300, 2, "click"),
          (2, 100, 3, "click"), (2, 200, 4, "purchase"),
          (3, 500, 6, "click"), (3, 500, 5, "view"),  # same ts: view first
          (4, 100, 7, "error")]
    got = _run_funnel(spark, ev, ("view", "click", "purchase"))
    assert got == {1: (2, 200, 300), 2: (0, None, None), 3: (2, 500, 500)}
    # user 4 has no funnel-relevant event -> absent from the output


def test_funnel_validates_steps(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "ts": pd.to_datetime(["2024-01-01"]),
                      "event_id": [1], "event_type": ["view"]}))
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.funnel_prefix(df, "user_id", "ts", "event_type", [],
                          tiebreak="event_id")
    with _pt.raises(ValueError):
        ops.funnel_prefix(df, "user_id", "ts", "event_type",
                          ["view", "view"], tiebreak="event_id")


def test_cohort_retention_matches_python(spark):
    rng = np.random.default_rng(3)
    rows = [(int(rng.integers(0, 9)),
             int(rng.integers(0, 20) * 86400_000_000
                 + rng.integers(0, 86400_000_000)))
            for _ in range(300)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts_us"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = {(r["cohort_bucket"], r["bucket_offset"]): r["n_users"]
           for r in ops.cohort_retention(df, "user_id", "ts",
                                         bucket_s=86400).collect()}
    act = {(u, us // 86400_000_000) for u, us in rows}
    coh = {}
    for u, bk in act:
        coh[u] = min(coh.get(u, bk), bk)
    want = {}
    for u, bk in act:
        key = (coh[u], bk - coh[u])
        want[key] = want.get(key, 0) + 1
    assert got == want
    assert all(off >= 0 for _, off in got)


def test_cohort_retention_validates_bucket(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "ts": pd.to_datetime(["2024-01-01"])}))
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.cohort_retention(df, "user_id", "ts", bucket_s=0)


def test_transition_counts_matches_python(spark):
    rng = np.random.default_rng(5)
    states = list("abcd")
    rows = [(int(rng.integers(0, 6)), i,
             states[int(rng.integers(0, 4))])
            for i in range(200)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "seq", "st"]))
    got = {(r["from_state"], r["to_state"]): (r["n_trans"], r["n_from"])
           for r in ops.transition_counts(df, ["u"], ["seq"],
                                          "st").collect()}
    by_u = {}
    for u, seq, st in sorted(rows):
        by_u.setdefault(u, []).append(st)
    cnt = {}
    for sts in by_u.values():
        for a, b in zip(sts, sts[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    tot = {}
    for (a, _b), c in cnt.items():
        tot[a] = tot.get(a, 0) + c
    assert got == {(a, b): (c, tot[a]) for (a, b), c in cnt.items()}


def test_histogram_equiwidth_floor_and_range(spark):
    # negative values must floor (not truncate toward zero): -1 at
    # width 10 lands in bin -1, not bin 0.
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 6 + ["b"],
                      "v": [-11, -1, 0, 9, 10, 25, 7]}))
    got = {(r["k"], r["bin"]): (r["n"], r["v_min"], r["v_max"])
           for r in ops.histogram_equiwidth(df, ["k"], "v",
                                            width=10).collect()}
    assert got == {("a", -2): (1, -11, -11), ("a", -1): (1, -1, -1),
                   ("a", 0): (2, 0, 9), ("a", 1): (1, 10, 10),
                   ("a", 2): (1, 25, 25), ("b", 0): (1, 7, 7)}
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.histogram_equiwidth(df, ["k"], "v", width=0)


def test_zscore_outliers_matches_python(spark):
    rng = np.random.default_rng(9)
    rows = [("g", i, int(rng.integers(90, 110))) for i in range(40)]
    rows += [("g", 100, 900), ("g", 101, -700)]  # planted outliers
    rows += [("h", 200, 5)]                      # singleton: never flags
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "i", "v"]))
    got = {r["i"]: r["is_outlier"]
           for r in ops.zscore_outliers(df, ["k"], "v", ["i"],
                                        k=3).collect()}
    import math
    by_k = {}
    for k, i, v in rows:
        by_k.setdefault(k, []).append((i, v))
    want = {}
    for k, pts in by_k.items():
        n = len(pts)
        s = sum(v for _, v in pts)
        ss = sum(v * v for _, v in pts)
        for i, v in pts:
            want[i] = (n * v - s) ** 2 > 9 * (n * ss - s * s)
    assert got == want
    assert got[100] and got[101] and not got[200]
    assert sum(got.values()) == 2


def test_zscore_outliers_envelope_raises(spark):
    big = 1 << 28
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 32, "i": range(32), "v": [big] * 32}))
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.zscore_outliers(df, ["k"], "v", ["i"], k=4)
    with _pt.raises(ValueError):
        ops.zscore_outliers(df, ["k"], "v", ["i"], k=0)


def test_table_fingerprint_order_invariance_and_dups(spark):
    rows = [(1, "a"), (2, "b"), (3, None)]
    df1 = spark.createDataFrame(pd.DataFrame(rows, columns=["i", "s"]))
    df2 = spark.createDataFrame(
        pd.DataFrame(rows[::-1], columns=["i", "s"])).repartition(7)
    f1 = ops.table_fingerprint(df1, ["i", "s"]).collect()[0]
    f2 = ops.table_fingerprint(df2, ["i", "s"]).collect()[0]
    assert (f1["n_rows"], f1["fp_xor"], f1["fp_sum"]) == \
           (f2["n_rows"], f2["fp_xor"], f2["fp_sum"])
    # doubling a row: xor cancels the pair back to the ORIGINAL xor of
    # the remaining multiset — the additive channel + count catch it
    df3 = spark.createDataFrame(
        pd.DataFrame(rows + [rows[0]], columns=["i", "s"]))
    f3 = ops.table_fingerprint(df3, ["i", "s"]).collect()[0]
    assert f3["n_rows"] != f1["n_rows"] and f3["fp_sum"] != f1["fp_sum"]
    # a changed value moves the xor
    df4 = spark.createDataFrame(
        pd.DataFrame([(1, "a"), (2, "b"), (3, "X")], columns=["i", "s"]))
    assert ops.table_fingerprint(df4, ["i", "s"]).collect()[0]["fp_xor"] \
        != f1["fp_xor"]
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.table_fingerprint(df1, [])


def test_profile_columns_known_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 2, None], "b": ["x", None, None, "y"]})
        .astype({"a": "Int64"}))
    got = {r["column"]: (r["n_rows"], r["n_null"], r["n_distinct"],
                         r["min_s"], r["max_s"])
           for r in ops.profile_columns(df, ["a", "b"]).collect()}
    assert got == {"a": (4, 1, 2, "1", "2"), "b": (4, 2, 2, "x", "y")}
    # native-order min: 9 < 10 numerically even though "10" < "9" lexically
    df2 = spark.createDataFrame(pd.DataFrame({"a": [9, 10]}))
    got2 = ops.profile_columns(df2, ["a"]).collect()[0]
    assert (got2["min_s"], got2["max_s"]) == ("9", "10")
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.profile_columns(df, [])


def test_global_ordinal_matches_declarative(spark):
    rng = np.random.default_rng(17)
    rows = [(int(rng.integers(0, 5)), i) for i in range(300)]
    # bucket = the leading order column itself (monotone by definition)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["bk", "i"]))
    got = {r["i"]: r["ordinal"]
           for r in ops.global_ordinal(df, "bk", ["bk", "i"]).collect()}
    want = {i: rank + 1
            for rank, (_bk, i) in enumerate(sorted(rows))}
    assert got == want


def test_ewma_matches_python_fold(spark):
    rng = np.random.default_rng(21)
    rows = [(int(rng.integers(0, 4)), i * 1_000_000, i,
             int(rng.integers(-500, 500))) for i in range(120)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts_us", "eid", "v"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = {r["k"]: (r["n"], r["ewma"])
           for r in ops.ewma_per_key(df, ["k"], "ts", "v", alpha=0.25,
                                     order=["eid"]).collect()}
    by_k = {}
    for k, ts, eid, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_k.setdefault(k, []).append(float(v))
    want = {}
    for k, vs in by_k.items():
        s = vs[0]
        for x in vs[1:]:
            s = s * 0.75 + x * 0.25
        want[k] = (len(vs), s)
    assert got == want  # the double compared bit-for-bit
    # singleton stream: ewma == the value
    df1 = spark.createDataFrame(
        pd.DataFrame({"k": [9], "ts_us": [0], "eid": [0], "v": [42]}))
    df1 = df1.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    r1 = ops.ewma_per_key(df1, ["k"], "ts", "v", alpha=0.25,
                          order=["eid"]).collect()[0]
    assert (r1["n"], r1["ewma"]) == (1, 42.0)
    import pytest as _pt
    for bad in (0.0, 1.0, 0.1, -0.5):  # 0.1 is not k/2^20
        with _pt.raises(ValueError):
            ops.ewma_per_key(df1, ["k"], "ts", "v", alpha=bad)


def test_weighted_median_brute(spark):
    rng = np.random.default_rng(33)
    rows = [("g", int(rng.integers(-20, 20)), int(rng.integers(1, 9)))
            for _ in range(60)] + [("h", 5, 3), ("h", 7, 1)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v", "w"]))
    got = {r["k"]: (r["wmedian"], r["w_total"])
           for r in ops.weighted_median(df, ["k"], "v", "w").collect()}
    want = {}
    for k in {r[0] for r in rows}:
        pts = sorted((v, w) for kk, v, w in rows if kk == k)
        tot = sum(w for _, w in pts)
        agg = {}
        for v, w in pts:
            agg[v] = agg.get(v, 0) + w
        cum = 0
        med = None
        for v in sorted(agg):
            cum += agg[v]
            if 2 * cum >= tot:
                med = v
                break
        want[k] = (med, tot)
    assert got == want
    # "h": weights 3 vs 1 -> total 4, cum at 5 is 3, 2*3 >= 4 -> median 5
    assert got["h"] == (5, 4)


def test_linreg_matches_python_and_degenerate(spark):
    rng = np.random.default_rng(29)
    rows = [("a", int(x), int(3 * x + 7 + rng.integers(-2, 3)))
            for x in rng.integers(0, 100, 50)]
    rows += [("z", 4, 10), ("z", 4, 20)]  # zero x-variance group
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "x", "y"]))
    got = {r["k"]: r for r in
           ops.linreg_per_group(df, ["k"], "x", "y").collect()}
    pts = [(x, y) for k, x, y in rows if k == "a"]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) - slope * float(sx)) / float(n)
    ga = got["a"]
    assert (ga["n"], ga["sx"], ga["sy"], ga["sxx"], ga["sxy"]) == \
        (n, sx, sy, sxx, sxy)
    assert ga["slope"] == slope and ga["intercept"] == intercept
    assert 2.5 < ga["slope"] < 3.5
    gz = got["z"]
    assert gz["slope"] is None and gz["intercept"] is None
    import pytest as _pt
    big = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 4, "x": [1 << 40] * 4, "y": [1] * 4}))
    with _pt.raises(ValueError):
        ops.linreg_per_group(big, ["k"], "x", "y")


def _brute_nearest(left, right):
    """Definition replay: per left row the right row minimizing
    (|diff|, rts asc, payload desc); None when no right rows."""
    out = {}
    for (u, eid, lts) in left:
        cands = [(abs(rts - lts), rts, -veid, veid)
                 for (ru, veid, rts) in right if ru == u]
        if not cands:
            out[(u, eid)] = (None, None, None)
        else:
            _d, rts, _nv, veid = min(cands)
            out[(u, eid)] = (rts, rts - lts, veid)
    return out


def test_asof_nearest_matches_brute(spark):
    rng = np.random.default_rng(41)
    left = [(int(rng.integers(0, 5)), 1000 + i,
             int(rng.integers(0, 10_000)) * 1_000_000) for i in range(60)]
    right = [(int(rng.integers(0, 4)), 2000 + i,   # user 4 has NO rights
              int(rng.integers(0, 10_000)) * 1_000_000) for i in range(50)]
    # planted exact-timestamp hit and an equidistant tie
    left += [(0, 9001, 77_000_000), (1, 9002, 500_000_000)]
    right += [(0, 9501, 77_000_000),
              (1, 9502, 400_000_000), (1, 9503, 600_000_000)]
    ldf = spark.createDataFrame(
        pd.DataFrame(left, columns=["user_id", "event_id", "ts_us"])) \
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    rdf = spark.createDataFrame(
        pd.DataFrame(right, columns=["user_id", "view_event_id", "rts_us"])) \
        .withColumn("rts", F.timestamp_micros(F.col("rts_us")))
    got = {(r["user_id"], r["event_id"]):
           (r["matched_ts_us"], r["diff_us"], r["view_event_id"])
           for r in ops.asof_nearest(
               ldf.select("user_id", "event_id", "ts"),
               rdf.select("user_id", "rts", "view_event_id"),
               ["user_id"], "ts", "rts", ["view_event_id"]).collect()}
    want = _brute_nearest([(u, e, t) for u, e, t in left],
                          [(u, v, t) for u, v, t in right])
    assert got == want
    assert got[(0, 9001)][1] == 0                 # exact-ts hit
    assert got[(1, 9002)][0] == 400_000_000       # tie -> earlier side


def test_polygon_area_centroid_known_shapes(spark):
    # CCW unit square scaled by 10: area2 = 200, centroid (5, 5);
    # CW triangle: negative area2; degenerate segment: NULL centroid.
    rows = [("sq", 1, 0, 0), ("sq", 2, 10, 0), ("sq", 3, 10, 10),
            ("sq", 4, 0, 10),
            ("tr", 1, 0, 0), ("tr", 2, 0, 6), ("tr", 3, 6, 0),
            ("seg", 1, 1, 1), ("seg", 2, 5, 5)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly", "seq", "x", "y"]))
    got = {r["poly"]: r for r in ops.polygon_area_centroid(
        df, ["poly"], "seq", "x", "y").collect()}
    assert (got["sq"]["area2"], got["sq"]["cx"], got["sq"]["cy"]) == \
        (200, 5.0, 5.0)
    assert got["tr"]["area2"] == -36  # CW orientation -> negative
    assert (got["tr"]["cx"], got["tr"]["cy"]) == (2.0, 2.0)
    assert got["seg"]["area2"] == 0
    assert got["seg"]["cx"] is None and got["seg"]["cy"] is None
    # translation equivariance: shifting by a constant shifts the centroid
    df2 = df.withColumn("x", F.col("x") + 1000) \
            .withColumn("y", F.col("y") + 2000)
    g2 = {r["poly"]: r for r in ops.polygon_area_centroid(
        df2, ["poly"], "seq", "x", "y").collect()}
    assert g2["sq"]["area2"] == 200
    assert (g2["sq"]["cx"], g2["sq"]["cy"]) == (1005.0, 2005.0)
    import pytest as _pt
    big = spark.createDataFrame(
        pd.DataFrame({"poly": ["a"] * 3, "seq": [1, 2, 3],
                      "x": [0, 1 << 20, 5], "y": [0, 1, 2]}))
    with _pt.raises(ValueError):
        ops.polygon_area_centroid(big, ["poly"], "seq", "x", "y")


def test_cusum_matches_recurrence(spark):
    rng = np.random.default_rng(7)
    rows = [(int(rng.integers(0, 4)), i * 1_000_000, i,
             int(rng.integers(0, 20))) for i in range(200)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts_us", "eid", "v"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    K, H = 9, 25
    got = {r["k"]: (r["n"], r["max_cusum"], r["alarm_pos"])
           for r in ops.cusum_alarm(df, ["k"], "ts", "v", drift_k=K,
                                    threshold=H,
                                    order=["eid"]).collect()}
    by_k = {}
    for k, ts, eid, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_k.setdefault(k, []).append(v)
    want = {}
    for k, vs in by_k.items():
        s = mx = 0
        alarm = None
        for i, x in enumerate(vs, start=1):
            s = max(0, s + x - K)          # the literal recurrence
            mx = max(mx, s)
            if alarm is None and s >= H:
                alarm = i
        want[k] = (len(vs), mx, alarm)
    assert got == want
    assert any(a is not None for _, _, a in got.values())
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.cusum_alarm(df, ["k"], "ts", "v", drift_k=K, threshold=0)


def test_top_paths_known(spark):
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "d"),
            (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
            (3, 1, "a"), (3, 2, "b"),
            (4, 1, "x")]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["sess", "seq", "st"]))
    got = [(r["path"], r["n_sess"], r["rank"]) for r in
           ops.top_paths(df, ["sess"], ["seq"], "st", depth=3, k=2)
           .orderBy("rank").collect()]
    # sessions 1 and 2 share prefix a>b>c; session 3 truncates; k=2 cuts x
    assert got == [("a>b>c", 2, 1), ("a>b", 1, 2)]
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.top_paths(df, ["sess"], ["seq"], "st", depth=0, k=2)


def test_trimmed_mean_matches_python(spark):
    rng = np.random.default_rng(31)
    rows = [("g", int(rng.integers(-50, 50))) for _ in range(37)] + \
           [("h", 5)]  # singleton: kept (band covers rank 1 when n=1)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]))
    got = {r["k"]: (r["n_total"], r["n_kept"], r["sum_kept"],
                    r["trimmed_mean"])
           for r in ops.trimmed_mean(df, ["k"], "v").collect()}
    want = {}
    for k in ("g", "h"):
        vs = sorted(v for kk, v in rows if kk == k)
        n = len(vs)
        kept = [v for r, v in enumerate(vs)
                if 100 * r >= 25 * (n - 1) and 100 * r <= 75 * (n - 1)]
        want[k] = (n, len(kept), sum(kept),
                   float(sum(kept)) / float(len(kept)))
    assert got == want
    assert got["h"] == (1, 1, 5, 5.0)


def test_simplify_radial_matches_python(spark):
    rng = np.random.default_rng(3)
    rows = [(int(rng.integers(0, 3)), i * 1_000_000, i,
             int(rng.integers(0, 100)), int(rng.integers(0, 100)))
            for i in range(150)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts_us", "eid", "x", "y"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = sorted((r["k"], r["pos"], r["x"], r["y"]) for r in
                 ops.simplify_radial(df, ["k"], ["ts", "eid"],
                                     "x", "y", eps=30).collect())
    by_k = {}
    for k, ts, eid, x, y in sorted(rows):
        by_k.setdefault(k, []).append((x, y))
    want = []
    for k, pts in by_k.items():
        lx = ly = None
        for i, (x, y) in enumerate(pts, start=1):
            if i == 1 or (x - lx) ** 2 + (y - ly) ** 2 >= 900:
                want.append((k, i, x, y))
                lx, ly = x, y
    assert got == sorted(want)
    assert 0 < len(got) < len(rows)  # something kept, something dropped
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.simplify_radial(df, ["k"], ["ts", "eid"], "x", "y", eps=0)
    big = df.withColumn("x", F.col("x") + (1 << 31))
    with _pt.raises(ValueError):
        ops.simplify_radial(big, ["k"], ["ts", "eid"], "x", "y", eps=30)


def test_negative_sampling_properties(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(17)}))
    out = ops.negative_sampling(df, "doc_id", k=4).collect()
    assert len(out) == 17 * 4
    for r in out:
        assert r["neg_id"] != r["anchor_id"]        # never the anchor
        assert 0 <= r["neg_id"] < 17
    # retry-stability: identical output on a re-run with repartition
    out2 = ops.negative_sampling(df.repartition(5), "doc_id", k=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.negative_sampling(df, "doc_id", k=0)
    one = spark.createDataFrame(pd.DataFrame({"doc_id": [7]}))
    with _pt.raises(ValueError):
        ops.negative_sampling(one, "doc_id", k=1)


def test_audience_overlap_known(spark):
    rows = [("a", 1), ("a", 2), ("a", 3), ("a", 3),  # dup membership
            ("b", 2), ("b", 3), ("c", 9)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["s", "u"]))
    got = {(r["seg_a"], r["seg_b"]): (r["n_common"], r["n_a"], r["n_b"])
           for r in ops.audience_overlap(df, "s", "u").collect()}
    # only intersecting pairs appear; duplicates collapse
    assert got == {("a", "b"): (2, 3, 2)}


def test_sample_bottomk_deterministic_and_mergeable(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 30 + ["b"] * 3,
                      "i": list(range(30)) + [100, 101, 102]}))
    got = sorted((r["k"], r["i"], r["sample_rank"]) for r in
                 ops.sample_bottomk(df, ["k"], "i", k=5).collect())
    # repartition-stability (Spark's own sample() fails this)
    got2 = sorted((r["k"], r["i"], r["sample_rank"]) for r in
                  ops.sample_bottomk(df.repartition(7), ["k"], "i",
                                     k=5).collect())
    assert got == got2
    assert sum(1 for k, _, _ in got if k == "a") == 5
    assert sum(1 for k, _, _ in got if k == "b") == 3  # fewer rows than k
    # mergeability: bottom-k of the union == bottom-k of parts' bottom-k
    half1 = df.filter(F.col("i") % 2 == 0)
    half2 = df.filter(F.col("i") % 2 == 1)
    parts = ops.sample_bottomk(half1, ["k"], "i", k=5).unionByName(
        ops.sample_bottomk(half2, ["k"], "i", k=5)).drop("sample_rank")
    merged = sorted((r["k"], r["i"], r["sample_rank"]) for r in
                    ops.sample_bottomk(parts, ["k"], "i", k=5).collect())
    assert merged == got
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.sample_bottomk(df, ["k"], "i", k=0)


def test_gini_known_values(spark):
    # perfectly equal values -> gini (n-1-ish formula) near 0 exactly:
    # for x = const, 2*wrs = 2c*n(n+1)/2 = c*n*(n+1) -> num = 0
    eq = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 6, "v": [10] * 6}))
    g = ops.gini_coefficient(eq, ["k"], "v").collect()[0]
    assert g["gini"] == 0.0
    # one host owns everything: gini -> (n-1)/n
    sk = spark.createDataFrame(
        pd.DataFrame({"k": ["b"] * 5, "v": [0, 0, 0, 0, 100]}))
    g2 = ops.gini_coefficient(sk, ["k"], "v").collect()[0]
    assert g2["gini"] == (5 - 1) / 5
    # exact evidence replay on random data
    rng = np.random.default_rng(3)
    vs = [int(x) for x in rng.integers(0, 50, 40)]
    df = spark.createDataFrame(pd.DataFrame({"k": ["c"] * 40, "v": vs}))
    got = ops.gini_coefficient(df, ["k"], "v").collect()[0]
    sv = sorted(vs)
    wrs = sum((i + 1) * x for i, x in enumerate(sv))
    assert (got["n"], got["sum_v"], got["wrs"]) == (40, sum(vs), wrs)
    assert got["gini"] == float(2 * wrs - 41 * sum(vs)) / float(40 * sum(vs))
    import pytest as _pt
    neg = spark.createDataFrame(pd.DataFrame({"k": ["d"], "v": [-1]}))
    with _pt.raises(ValueError):
        ops.gini_coefficient(neg, ["k"], "v")


def test_lift_table_ranks_planted_signal(spark):
    # positives concentrated at the top scores -> bucket 1 lift >> 1,
    # final cumulative lift == 1 by construction
    rows = [(i, 1000 - i, 1 if i < 20 else 0) for i in range(200)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["i", "score", "y"]))
    got = {r["bucket"]: r for r in
           ops.lift_table(df, "score", "y", "i", n_buckets=10).collect()}
    assert got[1]["n_pos"] == 20 and got[1]["cum_lift"] == 10.0
    assert got[10]["cum_lift"] == 1.0
    assert got[10]["cum_n"] == 200 and got[10]["cum_pos"] == 20
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.lift_table(df, "score", "y", "i", n_buckets=0)


def test_max_drawdown_matches_python(spark):
    rng = np.random.default_rng(23)
    rows = [(int(rng.integers(0, 4)), i * 1_000_000, i,
             int(rng.integers(0, 100))) for i in range(160)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts_us", "eid", "v"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = {r["k"]: (r["n"], r["max_dd"], r["peak"]) for r in
           ops.max_drawdown(df, ["k"], "ts", "v",
                            order=["eid"]).collect()}
    by_k = {}
    for k, ts, eid, v in sorted(rows):
        by_k.setdefault(k, []).append(v)
    want = {}
    for k, vs in by_k.items():
        pk = dd = None
        best = (-1, -1)
        run = vs[0]
        for v in vs:
            run = max(run, v)
            best = max(best, (run - v, run))
        want[k] = (len(vs), best[0], best[1])
    assert got == want
    # monotone series never draws down
    mono = spark.createDataFrame(
        pd.DataFrame({"k": [9] * 5, "ts_us": range(5), "eid": range(5),
                      "v": [1, 2, 3, 4, 5]}))
    mono = mono.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    r = ops.max_drawdown(mono, ["k"], "ts", "v", order=["eid"]).collect()[0]
    assert (r["max_dd"], r["peak"]) == (0, 5)


def test_diversified_topk_quota(spark):
    # bucket 0 holds the 6 best scores but only 3 may survive
    rows = [(0, i, 1000 - i) for i in range(6)] + \
           [(1, 10 + i, 500 - i) for i in range(4)] + \
           [(2, 20, 400)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "i", "s"]))
    got = [(r["g"], r["i"], r["group_rank"], r["global_rank"]) for r in
           ops.diversified_topk(df, "g", "s", "i", k=5, per_group=3)
           .orderBy("global_rank").collect()]
    assert [x[0] for x in got] == [0, 0, 0, 1, 1]  # quota enforced
    assert [x[3] for x in got] == [1, 2, 3, 4, 5]
    assert all(x[2] <= 3 for x in got)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.diversified_topk(df, "g", "s", "i", k=0, per_group=3)


def test_golden_record_nulls_never_erase(spark):
    rows = [  # (user, ts_us, eid, email, seg)
        (1, 100, 1, "a@x", None),
        (1, 200, 2, None, "s1"),     # null email must NOT erase a@x
        (1, 300, 3, "b@x", None),    # newer email wins; seg stays s1
        (2, 100, 4, None, None)]     # all-null user: nulls survive
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "ts_us", "eid", "email", "seg"]))
    df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    got = {r["u"]: (r["email"], r["seg"], r["last_ts_us"]) for r in
           ops.golden_record(df, "u", "ts", ["email", "seg"],
                             order=["eid"]).collect()}
    assert got == {1: ("b@x", "s1", 300), 2: (None, None, 100)}


def test_mad_scale_known_and_robust(spark):
    # odd count: med exact int; deviations symmetric
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 5, "v": [1, 2, 3, 4, 100]}))
    r = ops.mad_scale(df, ["k"], "v").collect()[0]
    assert (r["n"], r["med"], r["mad"]) == (5, 3.0, 1.0)
    # the outlier moved the mean wildly but MAD stayed at 1


def test_benford_digits_known(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 7,
                      "v": [1, 19, 123, 2, 29, 0, -5]}))
    got = {(r["digit"]): (r["n_d"], r["n_total"], r["n_excluded"])
           for r in ops.benford_digits(df, ["k"], "v").collect()}
    assert got == {1: (3, 5, 2), 2: (2, 5, 2)}


def test_band_join_matches_brute(spark):
    rng = np.random.default_rng(37)
    rows = [("k", i, int(rng.integers(0, 60))) for i in range(80)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "i", "v"]))
    a = df.select("g", F.col("i").alias("a_id"), F.col("v").alias("av"))
    b = df.select("g", F.col("i").alias("b_id"), F.col("v").alias("bv"))
    got = sorted((r["a_id"], r["b_id"], r["diff"]) for r in
                 ops.band_join(a, b, ["g"], "av", "bv", delta=4)
                 .collect())
    vals = {i: v for _g, i, v in rows}
    brute = sorted((i, j, vals[j] - vals[i])
                   for i in vals for j in vals
                   if abs(vals[i] - vals[j]) <= 4)
    assert got == brute
    # boundary: exactly delta apart is IN; delta+1 is OUT
    assert any(abs(d) == 4 for _a, _b, d in got)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.band_join(a, b, ["g"], "av", "bv", delta=0)


def test_radius_join_2d_matches_brute(spark):
    rng = np.random.default_rng(91)
    pts = [(int(i), int(rng.integers(-40, 40)), int(rng.integers(-40, 40)))
           for i in range(70)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["i", "x", "y"]))
    a = df.select(F.col("i").alias("a_id"), F.col("x").alias("ax"),
                  F.col("y").alias("ay"))
    b = df.select(F.col("i").alias("b_id"), F.col("x").alias("bx"),
                  F.col("y").alias("by"))
    got = sorted((r["a_id"], r["b_id"], r["dist2"]) for r in
                 ops.radius_join_2d(a, b, [], "ax", "ay", "bx", "by", 9)
                 .collect())
    brute = sorted(
        (i, j, (xj - xi) ** 2 + (yj - yi) ** 2)
        for i, xi, yi in pts for j, xj, yj in pts
        if (xj - xi) ** 2 + (yj - yi) ** 2 <= 81)
    assert got == brute
    # self pairs present at dist2 = 0; boundary exactly r is IN
    assert all(any(p == (i, i, 0) for p in got) for i, _x, _y in pts[:3])
    assert any(d == 81 for _a, _b, d in got)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.radius_join_2d(a, b, [], "ax", "ay", "bx", "by", 0)
    with _pt.raises(ValueError):
        ops.radius_join_2d(a, b, [], "ax", "ay", "bx", "by", (1 << 29) + 1)


def test_radius_join_2d_exact_bins_beyond_2_53(spark):
    """Coordinates may be any long: two points 1 apart above 2^53 (where
    a double cannot tell x from x + 1) still bin to neighbouring cells
    and pair."""
    x = (1 << 60) + 130
    a = spark.createDataFrame([(1, x, 0)], ["a_id", "ax", "ay"])
    b = spark.createDataFrame([(2, x + 1, 0)], ["b_id", "bx", "by"])
    got = [(r["a_id"], r["b_id"], r["dist2"]) for r in
           ops.radius_join_2d(a, b, [], "ax", "ay", "bx", "by", 3).collect()]
    assert got == [(1, 2, 1)]


def test_bin_floor_exact_over_long_range(spark):
    """bin_floor equals Python floor division for every long, the ends
    of the range included, with ANSI mode on."""
    from engine.grid import bin_floor
    lo, hi = -(1 << 63), (1 << 63) - 1
    cs = [lo, lo + 1, lo + 5, -7, -6, -1, 0, 1, 6, 7, (1 << 53) + 1,
          hi - 5, hi]
    df = spark.createDataFrame([(c,) for c in cs], "c long")
    for w in (1, 3, 6, 1 << 40):
        got = [r[0] for r in
               df.select(bin_floor(F.col("c"), w)).collect()]
        assert got == [c // w for c in cs], w


def test_autocorr_lag_matches_numpy(spark):
    rng = np.random.default_rng(5)
    rows = [(g, i, int(rng.integers(-50, 50)))
            for g in ("a", "b") for i in range(40)]
    rows += [("const", i, 7) for i in range(10)]  # zero variance -> NULL
    rows += [("tiny", 0, 3)]                      # < k+1 rows -> no row
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "i", "v"]))
    out = {r["g"]: r for r in
           ops.autocorr_lag(df, ["g"], "i", "v", k=2).collect()}
    assert "tiny" not in out
    assert out["const"]["r"] is None and out["const"]["n"] == 8
    for g in ("a", "b"):
        vs = np.array([v for gg, _i, v in rows if gg == g], dtype=np.int64)
        x, y = vs[:-2], vs[2:]
        n = len(x)
        sx, sy = x.sum(), y.sum()
        sxx, syy, sxy = (x * x).sum(), (y * y).sum(), (x * y).sum()
        r = out[g]
        assert (r["n"], r["sx"], r["sy"], r["sxx"], r["syy"], r["sxy"]) \
            == (n, sx, sy, sxx, syy, sxy)
        want = float((n * sxy - sx * sy)
                     / (np.sqrt(float(n * sxx - sx * sx))
                        * np.sqrt(float(n * syy - sy * sy))))
        assert r["r"] == want  # bit-identical fixed IEEE tree
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.autocorr_lag(df, ["g"], "i", "v", k=0)
    big = spark.createDataFrame(
        pd.DataFrame([("x", i, (1 << 30)) for i in range(4)],
                     columns=["g", "i", "v"]))
    with _pt.raises(ValueError):
        ops.autocorr_lag(big, ["g"], "i", "v", k=1)


def test_basket_pairs_matches_brute(spark):
    baskets = {1: {"a", "b", "c"}, 2: {"a", "b"}, 3: {"b", "c", "d"},
               4: {"a"}, 5: {"a", "b", "c", "d"}}
    rows = [(b, i) for b, items in baskets.items() for i in items]
    rows.append((1, "a"))  # duplicate membership collapses
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["b", "i"]))
    out = {(r["item_a"], r["item_b"]): r
           for r in ops.basket_pairs(df, "b", "i").collect()}
    supp = {}
    for items in baskets.values():
        for i in items:
            supp[i] = supp.get(i, 0) + 1
    want = {}
    for items in baskets.values():
        s = sorted(items)
        for ix, a in enumerate(s):
            for b in s[ix + 1:]:
                want[(a, b)] = want.get((a, b), 0) + 1
    assert {k: v["n_pair"] for k, v in out.items()} == want
    for (a, b), r in out.items():
        assert (r["n_a"], r["n_b"], r["n_baskets"]) == (supp[a], supp[b], 5)
        assert r["conf_a_b"] == r["n_pair"] / supp[a]
        assert r["lift"] == (5 * r["n_pair"]) / (supp[a] * supp[b])
    # min_pair filter
    out2 = ops.basket_pairs(df, "b", "i", min_pair=2).collect()
    assert {(r["item_a"], r["item_b"]) for r in out2} == \
        {k for k, v in want.items() if v >= 2}
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.basket_pairs(df, "b", "i", max_basket=3)


def test_last_touch_attribution_matches_brute(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    ev = [
        # user 1: touch, touch, conv (credits latest touch)
        (1, base + dt.timedelta(seconds=10), "view", 100),
        (1, base + dt.timedelta(seconds=20), "click", 101),
        (1, base + dt.timedelta(seconds=25), "purchase", 102),
        # user 1: second conv, same last touch still within window
        (1, base + dt.timedelta(seconds=40), "purchase", 103),
        # user 2: conv with NO prior touch
        (2, base + dt.timedelta(seconds=5), "purchase", 200),
        # user 2: touch AFTER the conv must not attribute backwards
        (2, base + dt.timedelta(seconds=9), "view", 201),
        # user 3: touch exactly AT the conv instant qualifies
        (3, base + dt.timedelta(seconds=7), "click", 300),
        (3, base + dt.timedelta(seconds=7), "purchase", 301),
        # user 4: touch outside the lookback window -> NULL
        (4, base, "view", 400),
        (4, base + dt.timedelta(seconds=120), "purchase", 401),
        # user 5: two touches at the SAME instant -> larger id wins
        (5, base + dt.timedelta(seconds=3), "view", 500),
        (5, base + dt.timedelta(seconds=3), "click", 501),
        (5, base + dt.timedelta(seconds=8), "purchase", 502),
        # irrelevant event types are ignored entirely
        (1, base + dt.timedelta(seconds=24), "error", 900),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(ev, columns=["u", "ts", "ty", "eid"]))
    out = {r["conv_id"]: (r["touch_id"], r["touch_type"], r["delay_us"])
           for r in ops.last_touch_attribution(
               df, ["u"], "ts", "ty", "eid",
               ["view", "click"], "purchase", lookback_s=60).collect()}
    assert out == {
        102: (101, "click", 5_000_000),
        103: (101, "click", 20_000_000),
        200: (None, None, None),
        301: (300, "click", 0),
        401: (None, None, None),
        502: (501, "click", 5_000_000),
    }
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.last_touch_attribution(df, ["u"], "ts", "ty", "eid",
                                   ["view"], "purchase", lookback_s=0)


def test_rfm_segments_matches_brute(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = []
    rng = np.random.default_rng(3)
    for u in range(20):
        for _ in range(int(rng.integers(1, 6))):
            rows.append((u, base + dt.timedelta(
                days=int(rng.integers(0, 30)),
                seconds=int(rng.integers(0, 86400))),
                "purchase", int(rng.integers(1, 500))))
        rows.append((u, base, "view", 999))  # non-conv rows ignored
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "ts", "ty", "cents"]))
    out = {r["user"]: r for r in ops.rfm_segments(
        df, "u", "ts", "ty", "purchase", "cents").collect()}
    # brute replay
    per = {}
    for u, ts, ty, c in rows:
        if ty != "purchase":
            continue
        st = per.setdefault(u, [0, 0, None])
        st[0] += 1
        st[1] += c
        if st[2] is None or ts > st[2]:
            st[2] = ts
    ref = max(v[2] for v in per.values())
    rd = {u: int((ref - v[2]).total_seconds() * 1_000_000
                 // 86_400_000_000) for u, v in per.items()}

    def ntile4(order):
        n = len(order)
        q, r = divmod(n, 4)
        sizes = [q + (1 if i < r else 0) for i in range(4)]
        scores, i = {}, 0
        for b, sz in enumerate(sizes, start=1):
            for u in order[i:i + sz]:
                scores[u] = b
            i += sz
        return scores

    rs = ntile4(sorted(per, key=lambda u: (rd[u], u)))
    fs = ntile4(sorted(per, key=lambda u: (-per[u][0], u)))
    ms = ntile4(sorted(per, key=lambda u: (-per[u][1], u)))
    for u, v in per.items():
        r = out[u]
        assert (r["r_days"], r["f"], r["m"]) == (rd[u], v[0], v[1])
        assert (r["r_score"], r["f_score"], r["m_score"]) == \
            (rs[u], fs[u], ms[u])
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.rfm_segments(df, "u", "ts", "ty", "purchase", "cents",
                         n_tiles=0)


def test_od_flows_matches_brute(spark):
    rows = [
        # user 1 walks cells (0,0) -> (0,0) -> (1,0) -> (1,1)
        (1, 1, 2, 3), (1, 2, 8, 4), (1, 3, 15, 9), (1, 4, 12, 17),
        # user 2 repeats the (0,0) -> (1,0) hop
        (2, 1, 5, 5), (2, 2, 19, 1),
        # user 3 never moves cells -> contributes nothing
        (3, 1, 31, 31), (3, 2, 33, 39),
        # negative coordinates bin by floor, not truncation
        (4, 1, -1, -1), (4, 2, 1, 1),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "t", "x", "y"]))
    got = {(r["o_cx"], r["o_cy"], r["d_cx"], r["d_cy"]):
           (r["n_trips"], r["n_movers"])
           for r in ops.od_flows(df, ["u"], "t", "x", "y", 10).collect()}
    assert got == {
        (0, 0, 1, 0): (2, 2),
        (1, 0, 1, 1): (1, 1),
        (-1, -1, 0, 0): (1, 1),
    }
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.od_flows(df, ["u"], "t", "x", "y", 0)


def test_knn_join_2d_matches_brute(spark):
    rng = np.random.default_rng(31)
    # two keys with different densities + one probe-only key
    pb, bd = [], []
    for key, n_b in (("dense", 120), ("sparse", 4)):
        for i in range(n_b):
            bd.append((key, i, int(rng.integers(0, 200)),
                       int(rng.integers(0, 200))))
        for i in range(25):
            pb.append((key, i, int(rng.integers(0, 200)),
                       int(rng.integers(0, 200))))
    pb.append(("emptykey", 0, 5, 5))  # no build rows -> emits nothing
    # duplicate build coords to exercise the (dist2, b_id) tie rule
    bd.append(("dense", 900, bd[0][2], bd[0][3]))
    bd.append(("dense", 901, bd[0][2], bd[0][3]))
    p = spark.createDataFrame(
        pd.DataFrame(pb, columns=["k", "pid", "x", "y"]))
    b = spark.createDataFrame(
        pd.DataFrame(bd, columns=["k", "bid", "x", "y"]))
    K = 6
    got = {}
    out = ops.knn_join_2d(p, b, ["k"], "x", "y", "x", "y", K, 30,
                          p_id="pid", b_id="bid", max_rings=12)
    for r in out.collect():
        got.setdefault((r["k"], r["pid"]), []).append(
            (r["rnk"], r["bid"], r["dist2"]))
    # brute replay
    for key, pid, px, py in pb:
        cands = sorted(
            ((bx - px) ** 2 + (by - py) ** 2, bid)
            for bk, bid, bx, by in bd if bk == key)
        want = [(i + 1, bid, d2) for i, (d2, bid) in
                enumerate(cands[:K])]
        have = sorted(got.get((key, pid), []))
        assert have == want, (key, pid)
    # sparse key has only 4+0 build rows < K -> all of them returned
    assert all(len(v) == 4 for (kk, _), v in got.items()
               if kk == "sparse")
    assert not any(kk == "emptykey" for kk, _ in got)
    # unresolvable within max_rings raises
    far = spark.createDataFrame(
        pd.DataFrame([("k", 0, 0, 0)], columns=["k", "pid", "x", "y"]))
    farb = spark.createDataFrame(
        pd.DataFrame([("k", 1, 10 ** 6, 10 ** 6)],
                     columns=["k", "bid", "x", "y"]))
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.knn_join_2d(far, farb, ["k"], "x", "y", "x", "y", 1, 10,
                        p_id="pid", b_id="bid", max_rings=2)
    with _pt.raises(ValueError):
        ops.knn_join_2d(p, b, ["k"], "x", "y", "x", "y", 0, 30,
                        p_id="pid", b_id="bid")
    with _pt.raises(ValueError):
        ops.knn_join_2d(p, b, ["k"], "x", "y", "x", "y", 1, 1 << 29,
                        p_id="pid", b_id="bid", max_rings=8)


def test_merge_intervals_matches_brute(spark):
    rows = [
        # key a: [0,10] [5,20] overlap; [20,25] touches (merges);
        # [30,35] disjoint; [31,32] nested; duplicate row
        ("a", 0, 10), ("a", 5, 20), ("a", 20, 25), ("a", 30, 35),
        ("a", 31, 32), ("a", 31, 32),
        # key b: single point interval and a chain
        ("b", 7, 7), ("b", 1, 2), ("b", 2, 3), ("b", 4, 5),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "s", "e"]))
    got = sorted((r["k"], r["m_start"], r["m_end"], r["n_src"])
                 for r in ops.merge_intervals(
                     df, ["k"], "s", "e").collect())
    assert got == [
        ("a", 0, 25, 3), ("a", 30, 35, 3),
        ("b", 1, 3, 2), ("b", 4, 5, 1), ("b", 7, 7, 1),
    ]
    import pytest as _pt
    bad = spark.createDataFrame(
        pd.DataFrame([("a", 5, 4)], columns=["k", "s", "e"]))
    with _pt.raises(ValueError):
        ops.merge_intervals(bad, ["k"], "s", "e")


def test_sssp_rounds_matches_brute(spark):
    from engine.graph import sssp_rounds
    rng = np.random.default_rng(17)
    n = 24
    edges = []
    for _ in range(70):
        u, v = int(rng.integers(0, n)), int(rng.integers(0, n))
        if u != v:
            edges.append((u, v, int(rng.integers(1, 15))))
    edges.append((0, 1, 3))
    edges.append((0, 1, 1))  # parallel edge: min wins
    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "w"]))
    seeds = [0, 5]
    s = spark.createDataFrame(pd.DataFrame({"node": seeds}))
    for rounds in (0, 1, 3, 8):
        got = {r["node"]: r["dist"] for r in
               sssp_rounds(e, s, rounds=rounds).collect()}
        # brute <=R-edge DP
        d = {x: 0 for x in seeds}
        for _ in range(rounds):
            nd = dict(d)
            for u, v, w in edges:
                if u in d and d[u] + w < nd.get(v, float("inf")):
                    nd[v] = d[u] + w
            d = nd
        assert got == d, rounds
    import pytest as _pt
    neg = spark.createDataFrame(
        pd.DataFrame([(0, 1, -2)], columns=["src", "dst", "w"]))
    with _pt.raises(ValueError):
        sssp_rounds(neg, s, rounds=2)
    with _pt.raises(ValueError):
        sssp_rounds(e, s, rounds=-1)


def test_geo_radius_join_matches_brute(spark):
    from engine.geo import haversine_m
    rng = np.random.default_rng(41)
    n = 150
    lats = rng.uniform(-80, 80, n)
    lons = rng.uniform(-180, 180, n)
    # plant a tight cluster straddling the antimeridian and a pole-ward
    # pair (chord bins must not be fooled by lon wraparound: XYZ is
    # wrap-free by construction)
    lats[:6] = [70.0, 70.2, 70.1, -85.0, -85.1, -85.05]
    lons[:6] = [179.9, -179.9, 179.95, 10.0, 10.5, -170.0]
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": range(n), "lat": lats, "lon": lons}))
    R = 300_000.0
    got = {(r["a_id"], r["b_id"]): r["dist_m"]
           for r in ops.geo_radius_join(
               df.selectExpr("pid as a_id", "lat", "lon"),
               df.selectExpr("pid as b_id", "lat", "lon"),
               "lat", "lon", "lat", "lon", R).collect()}
    la = np.repeat(lats, n)
    lo = np.repeat(lons, n)
    lb = np.tile(lats, n)
    lob = np.tile(lons, n)
    d = haversine_m(la, lo, lb, lob).reshape(n, n)
    want = {(i, j): d[i, j] for i in range(n) for j in range(n)
            if d[i, j] <= R}
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == v, k
    assert (0, 0) in got and got[(0, 0)] == 0.0  # self pair rides
    # giant radius degenerates to (correct) all-pairs
    small = df.limit(8)
    g2 = ops.geo_radius_join(
        small.selectExpr("pid as a_id", "lat", "lon"),
        small.selectExpr("pid as b_id", "lat", "lon"),
        "lat", "lon", "lat", "lon", 2.5e7)
    assert g2.count() == 64
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.geo_radius_join(df.selectExpr("pid as a_id", "lat", "lon"),
                            df.selectExpr("pid as b_id", "lat", "lon"),
                            "lat", "lon", "lat", "lon", 0.0)


def _brute_hull(pts):
    """Independent hull oracle: extreme-point test (p is a vertex iff
    some directed edge from p keeps all others strictly left, collinear
    only beyond the endpoint), then CCW order by atan2 around the
    lexicographic min, then shoelace."""
    import math
    s = sorted(set(pts))
    if len(s) == 1:
        return [(0, s[0][0], s[0][1], 1, 0)]
    verts = []
    for p in s:
        for q in s:
            if q == p:
                continue
            ok = True
            for r in s:
                if r in (p, q):
                    continue
                cr = ((q[0] - p[0]) * (r[1] - p[1])
                      - (q[1] - p[1]) * (r[0] - p[0]))
                if cr > 0:
                    continue
                if cr == 0 and ((r[0] - p[0]) * (q[0] - p[0])
                                + (r[1] - p[1]) * (q[1] - p[1])
                                > (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2):
                    continue
                ok = False
                break
            if ok:
                verts.append(p)
                break
    p0 = min(verts)
    rest = sorted((v for v in verts if v != p0),
                  key=lambda v: math.atan2(v[1] - p0[1], v[0] - p0[0]))
    hull = [p0] + rest
    h = len(hull)
    a2 = sum(hull[i][0] * hull[(i + 1) % h][1]
             - hull[(i + 1) % h][0] * hull[i][1] for i in range(h))
    return [(i, v[0], v[1], h, a2) for i, v in enumerate(hull)]


def test_convex_hull_2d_brute(spark):
    """Per-key hull rows (idx CCW from lexicographic min, n_hull,
    doubled shoelace area) match the independent extreme-point + atan2
    oracle, across a random cloud, a collinear key, a duplicate-heavy
    key and a singleton key; coordinates beyond 2^30 raise."""
    import random
    from engine import spatial
    rng = random.Random(11)
    rows = [("r", rng.randint(0, 60), rng.randint(0, 60))
            for _ in range(120)]
    rows += [("line", 2 * i, 3 * i + 1) for i in range(7)]
    rows += [("dup", 5, 5)] * 4 + [("dup", 9, 5), ("dup", 5, 9)]
    rows += [("one", 42, -17)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = sorted((r.k, r.idx, r.x, r.y, r.n_hull, r.hull_2area)
                 for r in spatial.convex_hull_2d(
                     df, ["k"], "x", "y").collect())
    want = []
    for k in ("r", "line", "dup", "one"):
        pts = [(x, y) for kk, x, y in rows if kk == k]
        want += [(k, *t) for t in _brute_hull(pts)]
    assert got == sorted(want)
    line = [g for g in got if g[0] == "line"]
    assert len(line) == 2 and all(g[5] == 0 for g in line)
    import pytest as _pt
    with _pt.raises(ValueError):
        spatial.convex_hull_2d(
            spark.createDataFrame([("a", 1 << 31, 0)], ["k", "x", "y"]),
            ["k"], "x", "y").collect()


def test_convex_hull_partition_invariance(spark):
    """Hull of per-partition hulls == hull: the same cloud shuffled
    into 1 vs 16 input partitions yields identical rows."""
    import random
    from engine import spatial
    rng = random.Random(23)
    rows = [("g", rng.randint(-500, 500), rng.randint(-500, 500))
            for _ in range(400)]
    a = spark.createDataFrame(rows, ["k", "x", "y"]).coalesce(1)
    b = spark.createDataFrame(rows, ["k", "x", "y"]).repartition(16)
    ra = sorted(map(tuple, spatial.convex_hull_2d(
        a, ["k"], "x", "y").collect()))
    rb = sorted(map(tuple, spatial.convex_hull_2d(
        b, ["k"], "x", "y").collect()))
    assert ra == rb and len(ra) >= 3


def test_rolling_active_distinct_brute(spark):
    """Step function equals the definitional day-spine replay: for every
    day in [min, max + W], the trailing-W distinct-user count, emitted
    exactly where it changes (including dips to and recoveries from 0);
    W=1 degenerates to daily distinct counts."""
    import random
    rng = random.Random(5)
    rows = [("t", rng.randint(1, 9), rng.randint(100, 130))
            for _ in range(150)]
    rows += [("sparse", 1, 100), ("sparse", 1, 125), ("sparse", 2, 125)]
    df = spark.createDataFrame(rows, ["k", "u", "day"])
    for W in (7, 1, 3):
        got = sorted((r.k, r.day, r.n_active)
                     for r in ops.rolling_active_distinct(
                         df, ["k"], "u", "day", W).collect())
        want = []
        for k in ("t", "sparse"):
            ev = {(u, d) for kk, u, d in rows if kk == k}
            days = [d for _, d in ev]
            lo, hi = min(days), max(days)
            prev = 0
            for d in range(lo, hi + W + 1):
                n = len({u for u, dd in ev if d - W + 1 <= dd <= d})
                if n != prev:
                    want.append((k, d, n))
                prev = n
        assert got == sorted(want), W
    # the sparse key dips to 0 between its two bursts at W=7
    got7 = [(r.day, r.n_active)
            for r in ops.rolling_active_distinct(
                df.filter(F.col("k") == "sparse"), ["k"], "u", "day", 7)
            .sort("day").collect()]
    assert (107, 0) in got7 and got7[-1][1] == 0
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.rolling_active_distinct(df, ["k"], "u", "day", 0)


def test_theil_sen_slope_brute(spark):
    """Median pairwise slope under the documented total order
    (slope_double, dy, dx) matches a pure-Python replay; all-equal-x
    keys emit NULL slope with n_pairs=0; the max_points envelope
    raises."""
    import random
    rng = random.Random(3)
    rows = [("a", i, rng.randint(0, 50), rng.randint(-40, 40))
            for i in range(25)]
    rows += [("tie", 0, 10, 1), ("tie", 1, 10, 5), ("tie", 2, 20, 3),
             ("tie", 3, 20, 7)]
    rows += [("vert", 0, 4, 1), ("vert", 1, 4, 2), ("vert", 2, 4, 3)]
    df = spark.createDataFrame(rows, ["k", "i", "x", "y"])
    got = {r.k: (r.n_pts, r.n_pairs, r.med_dy, r.med_dx, r.slope)
           for r in ops.theil_sen_slope(
               df, ["k"], "x", "y", "i").collect()}
    for k in ("a", "tie", "vert"):
        pts = sorted((i, x, y) for kk, i, x, y in rows if kk == k)
        pairs = []
        for ii in range(len(pts)):
            for jj in range(ii + 1, len(pts)):
                dx = pts[jj][1] - pts[ii][1]
                dy = pts[jj][2] - pts[ii][2]
                if dx == 0:
                    continue
                if dx < 0:
                    dx, dy = -dx, -dy
                pairs.append((dy / dx, dy, dx))
        if not pairs:
            assert got[k] == (len(pts), 0, None, None, None)
            continue
        pairs.sort()
        m = len(pairs)
        sl, dy, dx = pairs[(m + 1) // 2 - 1]
        assert got[k] == (len(pts), m, dy, dx, sl), k
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.theil_sen_slope(df, ["k"], "x", "y", "i", max_points=10)


def test_trip_stats_euclid_brute(spark):
    """Euclid-mode trip stats equal a pure-Python replay bit-for-bit
    (sqrt/multiply/floor are correctly rounded, so even the doubles
    must match exactly); single-point and duplicate-coordinate traces
    covered; the coordinate envelope and bad metric raise."""
    import math
    rows = [("u1", 10, 1, 0, 0), ("u1", 20, 2, 3, 4), ("u1", 30, 3, 3, 4),
            ("u1", 40, 4, -5, 12),
            ("u2", 5, 9, 7, 7),
            ("u3", 1, 5, 0, 0), ("u3", 2, 6, 1, 1)]
    df = spark.createDataFrame(rows, ["k", "ts", "i", "x", "y"])
    got = {r.k: (r.n_points, r.n_legs, r.path_um, r.net_disp_m,
                 r.straightness)
           for r in ops.trip_stats(df, ["k"], "ts", "x", "y", "i",
                                   metric="euclid").collect()}
    for k in ("u1", "u2", "u3"):
        tr = sorted((ts, i, x, y) for kk, ts, i, x, y in rows if kk == k)
        legs = [math.floor(math.sqrt(float(
            (tr[j + 1][2] - tr[j][2]) ** 2
            + (tr[j + 1][3] - tr[j][3]) ** 2)) * 1000000.0)
            for j in range(len(tr) - 1)]
        path = sum(legs)
        if legs:
            net = math.sqrt(float((tr[-1][2] - tr[0][2]) ** 2
                                  + (tr[-1][3] - tr[0][3]) ** 2))
            st = net / (path / 1000000.0) if path > 0 else None
        else:
            net, st = None, None
        assert got[k] == (len(tr), len(legs), path, net, st), k
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.trip_stats(
            spark.createDataFrame([("a", 1, 1, 1 << 26, 0)],
                                  ["k", "ts", "i", "x", "y"]),
            ["k"], "ts", "x", "y", "i", metric="euclid").collect()
    with _pt.raises(ValueError):
        ops.trip_stats(df, ["k"], "ts", "x", "y", "i", metric="nope")


def test_trip_stats_haversine_golden(spark):
    """Haversine-mode trip stats vs an independent numpy replay — with
    TOLERANCE, not bit equality: JVM and libm trig disagree by 1 ulp on
    ~2% of large-angle arguments (measured in this sandbox), which is
    exactly why the geodesic mode is golden-tested while the euclid
    mode carries the exact oracle contract.  The integer path_um may
    therefore differ by at most 1 between replays on floor-boundary
    legs; everything else agrees to 1e-9 relative."""
    import math
    from engine.geo import haversine_m
    import random
    rng = random.Random(17)
    rows = []
    for u in range(6):
        for j in range(15):
            rows.append((f"u{u}", j, j,
                         float(rng.randint(-600, 600)) / 10.0,
                         float(rng.randint(-1800, 1799)) / 10.0))
    df = spark.createDataFrame(rows, ["k", "ts", "i", "lat", "lon"])
    got = {r.k: r for r in ops.trip_stats(
        df, ["k"], "ts", "lat", "lon", "i").collect()}
    for u in range(6):
        k = f"u{u}"
        tr = sorted((ts, i, la, lo)
                    for kk, ts, i, la, lo in rows if kk == k)
        path = 0
        for j in range(len(tr) - 1):
            leg = float(haversine_m(tr[j][2], tr[j][3],
                                    tr[j + 1][2], tr[j + 1][3]))
            path += math.floor(leg * 1000000.0)
        net = float(haversine_m(tr[0][2], tr[0][3], tr[-1][2], tr[-1][3]))
        assert abs(got[k].path_um - path) <= len(tr)
        assert got[k].net_disp_m == _pytest_approx(net)
        assert got[k].n_legs == len(tr) - 1


def _pytest_approx(v):
    import pytest as _pt
    return _pt.approx(v, rel=1e-9)


def test_hull_diameter_brute(spark):
    """Farthest pair equals the all-pairs rank under the total order
    (dist2 DESC, x1, y1, x2, y2) — including the tie-break on a square
    (two equal diagonals) and the degenerate single-point key; the
    tightened coordinate envelope raises."""
    import random
    from engine import spatial
    rng = random.Random(29)
    rows = [("r", rng.randint(-80, 80), rng.randint(-80, 80))
            for _ in range(200)]
    rows += [("sq", 0, 0), ("sq", 0, 10), ("sq", 10, 0), ("sq", 10, 10),
             ("sq", 5, 5)]
    rows += [("one", 3, 3), ("one", 3, 3)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {r.k: (r.x1, r.y1, r.x2, r.y2, r.dist2)
           for r in spatial.hull_diameter(df, ["k"], "x", "y").collect()}
    for k in ("r", "sq", "one"):
        pts = sorted({(x, y) for kk, x, y in rows if kk == k})
        best = None
        for a in pts:
            for b in pts:
                if a > b:
                    continue
                d2 = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2
                cand = (-d2, a[0], a[1], b[0], b[1])
                if best is None or cand < best:
                    best = cand
        want = (best[1], best[2], best[3], best[4], -best[0])
        assert got[k] == want, k
    # square tie-break: (0,0)-(10,10) beats (0,10)-(10,0) on (x1,y1)
    assert got["sq"] == (0, 0, 10, 10, 200)
    assert got["one"] == (3, 3, 3, 3, 0)
    import pytest as _pt
    with _pt.raises(ValueError):
        spatial.hull_diameter(
            spark.createDataFrame([("a", 1 << 30, 0)], ["k", "x", "y"]),
            ["k"], "x", "y").collect()


def test_bbox_overlap_join_brute(spark):
    """Canonical-cell bbox join equals the by-definition inequality
    join on random boxes spanning negative coordinates and multiple
    grid cells; inverted boxes and over-fanout boxes raise."""
    import random
    rng = random.Random(41)
    A, B = [], []
    for i in range(60):
        x1, y1 = rng.randint(-100, 90), rng.randint(-100, 90)
        A.append(("k", i, x1, y1, x1 + rng.randint(0, 25),
                  y1 + rng.randint(0, 25)))
    for j in range(80):
        x1, y1 = rng.randint(-100, 90), rng.randint(-100, 90)
        B.append(("k", j, x1, y1, x1 + rng.randint(0, 25),
                  y1 + rng.randint(0, 25)))
    a = spark.createDataFrame(A, ["k", "a_id", "x1", "y1", "x2", "y2"])
    b = spark.createDataFrame(B, ["k", "b_id", "u1", "v1", "u2", "v2"])
    for cell in (8, 16, 64):
        got = sorted(
            (r.a_id, r.b_id, r.ix1, r.iy1, r.ix2, r.iy2)
            for r in ops.bbox_overlap_join(
                a, b, ["k"], ("x1", "y1", "x2", "y2"),
                ("u1", "v1", "u2", "v2"), cell).collect())
        want = sorted(
            (i, j, max(ax1, bx1), max(ay1, by1), min(ax2, bx2),
             min(ay2, by2))
            for _, i, ax1, ay1, ax2, ay2 in A
            for _, j, bx1, by1, bx2, by2 in B
            if ax1 <= bx2 and bx1 <= ax2 and ay1 <= by2 and by1 <= ay2)
        assert got == want, cell
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.bbox_overlap_join(
            spark.createDataFrame([("k", 1, 5, 0, 4, 9)],
                                  ["k", "a_id", "x1", "y1", "x2", "y2"]),
            b, ["k"], ("x1", "y1", "x2", "y2"),
            ("u1", "v1", "u2", "v2"), 8).collect()
    with _pt.raises(ValueError):
        ops.bbox_overlap_join(a, b, ["k"], ("x1", "y1", "x2", "y2"),
                              ("u1", "v1", "u2", "v2"), 2,
                              max_cells=4).collect()


def _seg_intersects(a, b):
    """Pure-Python CLRS 33.1 replay: (proper, touches) for closed
    integer segments a = (ax1, ay1, ax2, ay2), b likewise."""
    ax1, ay1, ax2, ay2 = a
    bx1, by1, bx2, by2 = b

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
    d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0))
              and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)))

    def on(d, sx1, sy1, sx2, sy2, px, py):
        return (d == 0 and min(sx1, sx2) <= px <= max(sx1, sx2)
                and min(sy1, sy2) <= py <= max(sy1, sy2))

    touch = (on(d1, bx1, by1, bx2, by2, ax1, ay1)
             or on(d2, bx1, by1, bx2, by2, ax2, ay2)
             or on(d3, ax1, ay1, ax2, ay2, bx1, by1)
             or on(d4, ax1, ay1, ax2, ay2, bx2, by2))
    return proper, (proper or touch)


def test_segment_intersect_join_brute(spark):
    """Filter-refine segment join equals the pure predicate over all
    pairs — random segments plus planted cases: proper X crossing,
    endpoint T-touch, collinear overlap, collinear disjoint (must NOT
    match), shared endpoint, zero-length segment on a segment."""
    import random
    rng = random.Random(43)
    A = [("k", i, rng.randint(-60, 60), rng.randint(-60, 60),
          rng.randint(-60, 60), rng.randint(-60, 60)) for i in range(40)]
    B = [("k", j, rng.randint(-60, 60), rng.randint(-60, 60),
          rng.randint(-60, 60), rng.randint(-60, 60)) for j in range(60)]
    A += [("k", 100, 0, 0, 10, 10),    # proper X with B 200
          ("k", 101, 20, 0, 30, 0),    # collinear overlap with B 201
          ("k", 102, 40, 0, 50, 0),    # collinear DISJOINT from B 202
          ("k", 103, -50, -50, -50, -50)]  # point on B 203
    B += [("k", 200, 0, 10, 10, 0),
          ("k", 201, 25, 0, 35, 0),
          ("k", 202, 52, 0, 60, 0),
          ("k", 203, -55, -55, -45, -45)]
    a = spark.createDataFrame(A, ["k", "a_id", "x1", "y1", "x2", "y2"])
    b = spark.createDataFrame(B, ["k", "b_id", "u1", "v1", "u2", "v2"])
    got = sorted((r.a_id, r.b_id, r.proper)
                 for r in ops.segment_intersect_join(
                     a, b, ["k"], ("x1", "y1", "x2", "y2"),
                     ("u1", "v1", "u2", "v2"), 16).collect())
    want = []
    for _, i, *sa in A:
        for _, j, *sb in B:
            proper, hit = _seg_intersects(tuple(sa), tuple(sb))
            if hit:
                want.append((i, j, proper))
    assert got == sorted(want)
    hits = {(i, j): p for i, j, p in got}
    assert hits[(100, 200)] is True
    assert hits[(101, 201)] is False   # collinear overlap: touch
    assert (102, 202) not in hits
    assert hits[(103, 203)] is False   # degenerate point touch
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.segment_intersect_join(
            spark.createDataFrame([("k", 1, 1 << 31, 0, 0, 0)],
                                  ["k", "a_id", "x1", "y1", "x2", "y2"]),
            b, ["k"], ("x1", "y1", "x2", "y2"),
            ("u1", "v1", "u2", "v2"), 16).collect()


def test_rect_union_area_brute(spark):
    """Strip-sweep union area equals the definitional unit-cell count
    on random overlapping boxes (negative coords included), with
    planted full-containment, exact-touch (no double count, no gap),
    disjoint islands, degenerate zero-width boxes and an all-degenerate
    key; inverted/out-of-envelope boxes and over-large groups raise."""
    import random
    rng = random.Random(47)
    rows = []
    for _ in range(50):
        x1, y1 = rng.randint(-40, 30), rng.randint(-40, 30)
        rows.append(("r", x1, y1, x1 + rng.randint(0, 12),
                     y1 + rng.randint(0, 12)))
    rows += [("t", 0, 0, 5, 5), ("t", 5, 0, 10, 5),   # exact touch
             ("t", 2, 2, 3, 3),                        # contained
             ("t", 100, 100, 101, 101)]                # island
    rows += [("z", 1, 1, 1, 9), ("z", 2, 2, 7, 2)]     # all degenerate
    df = spark.createDataFrame(rows, ["k", "x1", "y1", "x2", "y2"])
    got = {r.k: (r.n_rects, r.union_area)
           for r in ops.rect_union_area(df, ["k"]).collect()}
    for k in ("r", "t", "z"):
        boxes = [b[1:] for b in rows if b[0] == k]
        cells = {(cx, cy) for x1, y1, x2, y2 in boxes
                 for cx in range(x1, x2) for cy in range(y1, y2)}
        assert got[k] == (len(boxes), len(cells)), k
    assert got["t"] == (4, 51)   # 25 + 25 + 0 + 1
    assert got["z"][1] == 0
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.rect_union_area(
            spark.createDataFrame([("a", 5, 0, 4, 9)],
                                  ["k", "x1", "y1", "x2", "y2"]),
            ["k"]).collect()
    with _pt.raises(ValueError):
        ops.rect_union_area(df, ["k"], max_rects=10).collect()
    with _pt.raises(ValueError):
        ops.rect_union_area(
            spark.createDataFrame([("a", 0, 0, 1 << 31, 1)],
                                  ["k", "x1", "y1", "x2", "y2"]),
            ["k"]).collect()


def test_comovement_pairs_brute(spark):
    """Flock runs equal the per-bucket all-pairs + gaps-and-islands
    replay on a planted scenario: two movers glued for 5 buckets, a
    third joining mid-way, a presence gap splitting a run, and a pair
    that drifts out of radius; duplicate (id, t) positions raise."""
    rows = [
        # movers 1 & 2 within r for t=0..4 (dist 5)
        *[(1, t, 10, 10) for t in range(5)],
        *[(2, t, 13, 14) for t in range(5)],
        # mover 3 joins near them only at t=2,3
        (3, 2, 11, 12), (3, 3, 12, 11),
        # mover 4 meets 5 at t=0,1, gap at 2, again at 3,4 -> two runs
        (4, 0, 500, 500), (4, 1, 500, 500), (4, 3, 500, 500),
        (4, 4, 500, 500),
        (5, 0, 503, 504), (5, 1, 503, 504), (5, 2, 900, 900),
        (5, 3, 503, 504), (5, 4, 503, 504),
        # mover 6 drifts away from 7: dist 5, 5, then 50
        (6, 0, 100, 100), (6, 1, 101, 100), (6, 2, 100, 100),
        (7, 0, 103, 104), (7, 1, 104, 104), (7, 2, 140, 130),
    ]
    df = spark.createDataFrame(rows, ["i", "t", "x", "y"])
    got = sorted(map(tuple, ops.comovement_pairs(
        df, "i", "t", "x", "y", radius=8, min_steps=2).collect()))
    # brute replay
    from collections import defaultdict
    by_t = defaultdict(list)
    for i, t, x, y in rows:
        by_t[t].append((i, x, y))
    hits = defaultdict(list)
    for t, pts in by_t.items():
        for ai, ax, ay in pts:
            for bi, bx, by_ in pts:
                if ai < bi and (bx - ax) ** 2 + (by_ - ay) ** 2 <= 64:
                    hits[(ai, bi)].append(t)
    want = []
    for (ai, bi), ts in hits.items():
        ts.sort()
        start = prev = ts[0]
        for t in ts[1:] + [None]:
            if t is not None and t == prev + 1:
                prev = t
                continue
            n = prev - start + 1
            if n >= 2:
                want.append((ai, bi, start, prev, n))
            if t is not None:
                start = prev = t
    assert got == sorted(want)
    assert (1, 2, 0, 4, 5) in got          # the glued pair, one run
    assert (4, 5, 0, 1, 2) in got and (4, 5, 3, 4, 2) in got  # split
    assert (6, 7, 0, 1, 2) in got          # drift-away truncates
    # mover 3's two-bucket visit rides with both glued movers
    assert (1, 3, 2, 3, 2) in got and (2, 3, 2, 3, 2) in got
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.comovement_pairs(
            spark.createDataFrame([(1, 0, 0, 0), (1, 0, 5, 5)],
                                  ["i", "t", "x", "y"]),
            "i", "t", "x", "y", 8, 2).collect()
    with _pt.raises(ValueError):
        ops.comovement_pairs(df, "i", "t", "x", "y", 8, 0)


def test_emerging_hotspots_brute(spark):
    """Per-cell window counts and the pooled-z tree equal a pure-Python
    replay, with a planted emerging cell (all-recent burst), a fading
    cell (all-baseline), a balanced cell, and the min_count filter;
    empty-window and validation paths covered."""
    import math
    rows = []
    rows += [(105, 105, True)] * 30                 # emerging cell
    rows += [(205, 205, False)] * 30                # fading cell
    rows += [(305, 305, True)] * 10 + [(305, 305, False)] * 10
    rows += [(405, 405, True)] * 2                  # below min_count
    df = spark.createDataFrame(rows, ["x", "y", "recent"])
    got = {(r.cx, r.cy): (r.n_recent, r.n_base, r.z)
           for r in ops.emerging_hotspots(df, "x", "y", "recent",
                                          cell=100, min_count=5)
           .collect()}
    assert (4, 4) not in got
    nr = sum(1 for *_, rc in rows if rc)
    nb = sum(1 for *_, rc in rows if not rc)
    for (cx, cy), (gr, gb, gz) in got.items():
        wr = sum(1 for x, y, rc in rows
                 if rc and x // 100 == cx and y // 100 == cy)
        wb = sum(1 for x, y, rc in rows
                 if not rc and x // 100 == cx and y // 100 == cy)
        assert (gr, gb) == (wr, wb)
        p_r, p_b = wr / nr, wb / nb
        p = (wr + wb) / (nr + nb)
        var = p * (1.0 - p) * (1.0 / nr + 1.0 / nb)
        assert gz == (p_r - p_b) / math.sqrt(var)
    assert got[(1, 1)][2] > 0 and got[(2, 2)][2] < 0
    # one-sided inputs -> z NULL everywhere
    one = spark.createDataFrame([(5, 5, True)] * 6, ["x", "y", "recent"])
    z0 = ops.emerging_hotspots(one, "x", "y", "recent", 100, 5).collect()
    assert len(z0) == 1 and z0[0].z is None
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.emerging_hotspots(df, "x", "y", "recent", 0, 5)
    with _pt.raises(ValueError):
        ops.emerging_hotspots(df, "x", "y", "recent", 100, 0)


def test_simplify_vw_rounds_brute(spark):
    """Fixed-round VW simplification equals a pure-Python replay of the
    per-round (2area, seq) argmin removal: collinear vertices (area 0)
    go first, ties break on seq, endpoints never leave, a key with no
    qualifying vertex is converged; duplicate seq and envelope raise."""
    import random
    rng = random.Random(53)
    rows = [("r", i, rng.randint(0, 100), rng.randint(0, 100))
            for i in range(30)]
    # collinear run: interior points have zero area -> removed first
    rows += [("line", i, 10 * i, 5 * i) for i in range(6)]
    # tie: two symmetric small bumps with EQUAL area -> lower seq goes
    rows += [("tie", 0, 0, 0), ("tie", 1, 10, 1), ("tie", 2, 20, 0),
             ("tie", 3, 30, 1), ("tie", 4, 40, 0)]
    # converged: giant triangle areas, nothing <= threshold
    rows += [("big", 0, 0, 0), ("big", 1, 500, 900), ("big", 2, 1000, 0)]
    df = spark.createDataFrame(rows, ["k", "seq", "x", "y"])
    R, THR = 4, 600
    got = sorted((r.k, r.seq, r.x, r.y)
                 for r in ops.simplify_vw_rounds(
                     df, ["k"], "seq", "x", "y", R, THR).collect())
    want = []
    for k in ("r", "line", "tie", "big"):
        pts = sorted([(s, x, y) for kk, s, x, y in rows if kk == k])
        for _ in range(R):
            best = None
            for j in range(1, len(pts) - 1):
                (ps, px, py), (s, x, y), (ns, nx, ny) = \
                    pts[j - 1], pts[j], pts[j + 1]
                a2 = abs((x - px) * (ny - py) - (y - py) * (nx - px))
                if a2 <= THR and (best is None or (a2, s) < best[:2]):
                    best = (a2, s, j)
            if best is None:
                break
            pts.pop(best[2])
        want += [(k, s, x, y) for s, x, y in pts]
    assert got == sorted(want)
    keep = {(k, s) for k, s, _, _ in got}
    assert ("line", 0) in keep and ("line", 5) in keep  # endpoints stay
    assert len([1 for k, *_ in got if k == "line"]) == 2  # interior gone
    # tie key: all 3 small-area interiors go within 4 rounds (seq-tie
    # order exercised by the got==want parity above); endpoints remain
    assert sorted(s for k, s, _, _ in got if k == "tie") == [0, 4]
    assert len([1 for k, *_ in got if k == "big"]) == 3   # converged
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.simplify_vw_rounds(
            spark.createDataFrame([("a", 1, 0, 0), ("a", 1, 5, 5)],
                                  ["k", "seq", "x", "y"]),
            ["k"], "seq", "x", "y", 2, 100).collect()
    with _pt.raises(ValueError):
        ops.simplify_vw_rounds(
            spark.createDataFrame([("a", 1, 1 << 31, 0)],
                                  ["k", "seq", "x", "y"]),
            ["k"], "seq", "x", "y", 2, 100).collect()
    with _pt.raises(ValueError):
        ops.simplify_vw_rounds(df, ["k"], "seq", "x", "y", 0, 100)


def test_st_radius_join_matches_brute(spark):
    rng = np.random.default_rng(92)
    pts = [(int(i), int(rng.integers(-30, 30)), int(rng.integers(-30, 30)),
            int(rng.integers(0, 500)))
           for i in range(60)]
    # planted boundaries: exactly r apart in space / exactly t_band in
    # time (both IN), one past each (OUT)
    pts += [(60, 100, 100, 1000), (61, 108, 100, 1000),
            (62, 109, 100, 1000), (63, 100, 100, 1060),
            (64, 100, 100, 1061)]
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["i", "x", "y", "t"]))
    a = df.select(F.col("i").alias("a_id"), F.col("x").alias("ax"),
                  F.col("y").alias("ay"), F.col("t").alias("at"))
    b = df.select(F.col("i").alias("b_id"), F.col("x").alias("bx"),
                  F.col("y").alias("by"), F.col("t").alias("bt"))
    got = sorted((r["a_id"], r["b_id"], r["dist2"], r["dt"]) for r in
                 ops.st_radius_join(a, b, [], ("ax", "ay", "at"),
                                    ("bx", "by", "bt"), 8, 60).collect())
    brute = sorted(
        (i, j, (xj - xi) ** 2 + (yj - yi) ** 2, tj - ti)
        for i, xi, yi, ti in pts for j, xj, yj, tj in pts
        if (xj - xi) ** 2 + (yj - yi) ** 2 <= 64 and abs(tj - ti) <= 60)
    assert got == brute
    # self pairs at (0, 0); spatial boundary r IN; temporal boundary IN
    assert any(p[0] == p[1] and p[2] == 0 and p[3] == 0 for p in got)
    assert any(d == 64 for _a, _b, d, _dt in got)
    assert any(abs(dt) == 60 for _a, _b, _d, dt in got)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.st_radius_join(a, b, [], ("ax", "ay", "at"),
                           ("bx", "by", "bt"), 0, 60)
    with _pt.raises(ValueError):
        ops.st_radius_join(a, b, [], ("ax", "ay", "at"),
                           ("bx", "by", "bt"), 8, 0)


def test_knn_join_bounded_matches_brute(spark):
    rng = np.random.default_rng(17)
    apts = [(int(i), int(rng.integers(0, 60)), int(rng.integers(0, 60)))
            for i in range(40)]
    bpts = [(int(i), int(rng.integers(0, 60)), int(rng.integers(0, 60)))
            for i in range(50)]
    # planted tie: two b points at identical distance from a_id=40 —
    # the (dist2, b_id) total order must keep the smaller id first
    apts += [(40, 200, 200)]
    bpts += [(50, 205, 200), (51, 200, 205), (52, 203, 204), (53, 290, 290)]
    a = spark.createDataFrame(pd.DataFrame(apts, columns=["a_id", "ax", "ay"]))
    b = spark.createDataFrame(pd.DataFrame(bpts, columns=["b_id", "bx", "by"]))
    r, k = 10, 3
    got = sorted((row["a_id"], row["b_id"], row["dist2"], row["rk"])
                 for row in ops.knn_join_bounded(
                     a, b, [], "ax", "ay", "bx", "by", r, k).collect())
    brute = []
    for ai, ax, ay in apts:
        cands = sorted(
            ((bx - ax) ** 2 + (by - ay) ** 2, bi)
            for bi, bx, by in bpts
            if (bx - ax) ** 2 + (by - ay) ** 2 <= r * r)
        brute += [(ai, bi, d2, rk + 1)
                  for rk, (d2, bi) in enumerate(cands[:k])]
    assert got == sorted(brute)
    # the planted tie resolved by id: b 50 (dist2=25) ranks before 51
    tie = {(row[1], row[3]) for row in got if row[0] == 40}
    assert (50, 1) in tie and (51, 2) in tie and (52, 3) in tie
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.knn_join_bounded(a, b, [], "ax", "ay", "bx", "by", r, 0)


def test_skyline_min_rows_matches_brute(spark):
    rng = np.random.default_rng(23)
    pts = [(int(i), "g" if i % 2 else "h",
            int(rng.integers(0, 40)), int(rng.integers(0, 40)))
           for i in range(120)]
    # planted: exact duplicate frontier points (both must survive),
    # a same-x dominator (smaller y kills larger y at equal x)
    pts += [(120, "z", 0, 5), (121, "z", 0, 5), (122, "z", 0, 9),
            (123, "z", 3, 1), (124, "z", 3, 1), (125, "z", 9, 0)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["i", "k", "x", "y"]))
    got = sorted((r["i"], r["k"], r["x"], r["y"]) for r in
                 ops.skyline_min_rows(df, ["k"], "x", "y").collect())
    brute = sorted(
        (i, k, x, y) for i, k, x, y in pts
        if not any(k2 == k and x2 <= x and y2 <= y and (x2 < x or y2 < y)
                   for _i2, k2, x2, y2 in pts))
    assert got == brute
    zs = [p for p in got if p[1] == "z"]
    assert {p[0] for p in zs} == {120, 121, 123, 124, 125}


def test_geofence_visits_matches_brute(spark):
    # user u walks: in fence A (3 pts) -> out (1 pt) -> in A again (2
    # pts) -> into fence B; user v sits on fence A's exact boundary
    fences = spark.createDataFrame(
        pd.DataFrame([(1, 100, 100, 10), (2, 300, 300, 5)],
                     columns=["fence_id", "cx", "cy", "r"]))
    trace = [("u", 1, 100, 100), ("u", 2, 105, 100), ("u", 3, 108, 100),
             ("u", 4, 150, 150), ("u", 5, 95, 100), ("u", 6, 100, 95),
             ("u", 7, 300, 304), ("v", 1, 110, 100), ("v", 2, 104, 100)]
    pts = spark.createDataFrame(
        pd.DataFrame(trace, columns=["user", "ts", "x", "y"]))
    got = sorted((r["user"], r["fence_id"], r["enter_ts"], r["exit_ts"],
                  r["n_points"]) for r in
                 ops.geofence_visits(pts, fences, "user", ["ts"],
                                     "x", "y", "ts").collect())
    # exact-boundary point (dist = r) is IN; one outside ping splits
    assert got == [("u", 1, 1, 3, 3), ("u", 1, 5, 6, 2),
                   ("u", 2, 7, 7, 1), ("v", 1, 1, 2, 2)]
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.geofence_visits(pts, fences.limit(0), "user", ["ts"],
                            "x", "y", "ts")
    bad = spark.createDataFrame(
        pd.DataFrame([(1, 0, 0, 0)], columns=["fence_id", "cx", "cy", "r"]))
    with _pt.raises(ValueError):
        ops.geofence_visits(pts, bad, "user", ["ts"], "x", "y", "ts")


def test_idw_quantized_matches_brute(spark):
    rng = np.random.default_rng(31)
    src = [(int(i), int(rng.integers(0, 50)), int(rng.integers(0, 50)),
            int(rng.integers(0, 1000)))
           for i in range(80)]
    # target 100 sits far from everything -> NULL prediction
    tgt = [(int(i), int(rng.integers(0, 50)), int(rng.integers(0, 50)))
           for i in range(30)] + [(100, 5000, 5000)]
    sdf = spark.createDataFrame(
        pd.DataFrame(src, columns=["s_id", "x", "y", "v"]))
    tdf = spark.createDataFrame(
        pd.DataFrame(tgt, columns=["t_id", "tx", "ty"]))
    r, wb = 12, 20
    got = {row["t_id"]: (row["idw_q"], row["n_src"], row["sum_w"])
           for row in ops.idw_quantized(
               tdf, sdf, [], "tx", "ty", "x", "y", "v", r,
               w_bits=wb).collect()}
    assert len(got) == len(tgt)
    for ti, tx, ty in tgt:
        ws = [((1 << wb) // (1 + d2), v) for d2, v in
              (((sx - tx) ** 2 + (sy - ty) ** 2, v)
               for _si, sx, sy, v in src)
              if d2 <= r * r]
        if not ws:
            assert got[ti] == (None, 0, 0)
        else:
            sw = sum(w for w, _v in ws)
            swv = sum(w * v for w, v in ws)
            assert got[ti] == (swv // sw, len(ws), sw)
    assert got[100] == (None, 0, 0)
    import pytest as _pt
    with _pt.raises(ValueError):  # 1 + r² > 2^w_bits
        ops.idw_quantized(tdf, sdf, [], "tx", "ty", "x", "y", "v",
                          2000, w_bits=20)
    with _pt.raises(ValueError):  # neighbor cap breached
        ops.idw_quantized(tdf, sdf, [], "tx", "ty", "x", "y", "v", r,
                          w_bits=wb, max_neighbors=1).collect()
    neg = sdf.withColumn("v", F.col("v") - 500)
    with _pt.raises(ValueError):  # value envelope
        ops.idw_quantized(tdf, neg, [], "tx", "ty", "x", "y", "v", r,
                          w_bits=wb).collect()


def test_ripley_k_matches_brute(spark):
    rng = np.random.default_rng(41)
    pts = [("g", int(i), int(rng.integers(0, 30)), int(rng.integers(0, 30)))
           for i in range(50)]
    # sparse key: far-apart points so the small rungs have ZERO pairs
    # (the zero row must be PRESENT), singleton key -> NULL k_q
    pts += [("s", 100, 0, 0), ("s", 101, 500, 500), ("one", 200, 7, 7)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["k", "i", "x", "y"]))
    radii, area = [2, 5, 9], 900
    got = {(r["k"], r["r"]): (r["n_pts"], r["n_pairs"], r["k_q"])
           for r in ops.ripley_k(df, ["k"], "i", "x", "y",
                                 radii, area).collect()}
    assert len(got) == 3 * len(radii)
    for k in ("g", "s", "one"):
        kp = [(x, y) for kk, _i, x, y in pts if kk == k]
        n = len(kp)
        for r in radii:
            cnt = sum(1 for i, (x1, y1) in enumerate(kp)
                      for j, (x2, y2) in enumerate(kp) if i != j
                      and (x2 - x1) ** 2 + (y2 - y1) ** 2 <= r * r)
            kq = (area * cnt) // (n * (n - 1)) if n >= 2 else None
            assert got[(k, r)] == (n, cnt, kq), (k, r)
    assert got[("s", 2)] == (2, 0, 0)
    assert got[("one", 9)][2] is None
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.ripley_k(df, ["k"], "i", "x", "y", [5, 2], area)
    with _pt.raises(ValueError):
        ops.ripley_k(df, ["k"], "i", "x", "y", radii, 0)
    with _pt.raises(ValueError):
        ops.ripley_k(df, ["k"], "i", "x", "y", radii, 1 << 61)


def test_knox_test_matches_brute(spark):
    rng = np.random.default_rng(43)
    pts = [("g", int(i), int(rng.integers(0, 40)), int(rng.integers(0, 40)),
            int(rng.integers(0, 1000)))
           for i in range(60)]
    # planted interacting key: two space-close pairs, one also
    # time-close -> positive excess is checkable by hand; singleton key
    pts += [("p", 100, 0, 0, 0), ("p", 101, 3, 0, 5),
            ("p", 102, 0, 3, 900), ("p", 103, 500, 500, 10),
            ("one", 200, 1, 1, 1)]
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["k", "i", "x", "y", "t"]))
    r, band = 6, 50
    got = {row["k"]: (row["n_pts"], row["n_den"], row["ns_space"],
                      row["nt_time"], row["x_st"], row["e_num"],
                      row["eq_q"], row["excess"])
           for row in ops.knox_test(df, ["k"], "i", "x", "y", "t",
                                    r, band).collect()}
    assert len(got) == 3
    for k in ("g", "p", "one"):
        kp = [(x, y, t) for kk, _i, x, y, t in pts if kk == k]
        n = len(kp)
        ns = nt = x = 0
        for i in range(n):
            for j in range(i + 1, n):
                sp = ((kp[j][0] - kp[i][0]) ** 2
                      + (kp[j][1] - kp[i][1]) ** 2) <= r * r
                tm = abs(kp[j][2] - kp[i][2]) <= band
                ns += sp
                nt += tm
                x += sp and tm
        den = n * (n - 1) // 2
        eq = (ns * nt) // den if n >= 2 else None
        assert got[k] == (n, den, ns, nt, x, ns * nt, eq,
                          x * den - ns * nt), k
    # the planted key by hand: the 100/101/102 triangle is all
    # space-close (d² 9/9/18 <= 36); times 0/5/10 give 3 time-close
    # pairs; only (100,101) is close on BOTH axes
    assert got["p"][2] == 3 and got["p"][3] == 3 and got["p"][4] == 1
    assert got["p"][7] == 1 * 6 - 3 * 3  # excess = -3 exactly
    assert got["one"] == (1, 0, 0, 0, 0, 0, None, 0)


def test_join_count_stats_matches_brute(spark):
    rng = np.random.default_rng(47)
    pts = [("g", int(i), int(rng.integers(0, 30)), int(rng.integers(0, 30)),
            int(rng.integers(0, 2)))
           for i in range(60)]
    # planted: a perfectly segregated key (black cluster far from the
    # white cluster) -> bw = 0 and dbb, dww > 0; a singleton key
    pts += [("seg", 100, 0, 0, 1), ("seg", 101, 3, 0, 1),
            ("seg", 102, 0, 3, 1), ("seg", 103, 500, 500, 0),
            ("seg", 104, 503, 500, 0), ("one", 200, 1, 1, 1)]
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["k", "i", "x", "y", "m"]))
    r = 6
    cols = ("n_pts", "n1", "w_pairs", "bb", "ww", "bw", "den",
            "ebb_num", "eww_num", "ebw_num", "dbb", "dww", "dbw")
    got = {row["k"]: tuple(row[c] for c in cols)
           for row in ops.join_count_stats(df, ["k"], "i", "x", "y",
                                           "m", r).collect()}
    assert len(got) == 3
    for k in ("g", "seg", "one"):
        kp = [(x, y, m) for kk, _i, x, y, m in pts if kk == k]
        n, n1 = len(kp), sum(m for _x, _y, m in kp)
        n0 = n - n1
        w = bb = ww = bw = 0
        for i in range(n):
            for j in range(i + 1, n):
                if ((kp[j][0] - kp[i][0]) ** 2
                        + (kp[j][1] - kp[i][1]) ** 2) <= r * r:
                    w += 1
                    ma, mb = kp[i][2], kp[j][2]
                    bb += ma * mb
                    ww += (1 - ma) * (1 - mb)
                    bw += ma + mb - 2 * ma * mb
        den = n * (n - 1)
        ebb, eww, ebw = w * n1 * (n1 - 1), w * n0 * (n0 - 1), 2 * w * n1 * n0
        assert got[k] == (n, n1, w, bb, ww, bw, den, ebb, eww, ebw,
                          bb * den - ebb, ww * den - eww,
                          bw * den - ebw), k
    # segregated key: 3 BB pairs + 1 WW pair, zero BW, both same-mark
    # excesses positive, the cross excess negative
    assert got["seg"][2:6] == (4, 3, 1, 0)
    assert got["seg"][10] > 0 and got["seg"][11] > 0 and got["seg"][12] < 0
    assert got["one"][:6] == (1, 1, 0, 0, 0, 0)
    import pytest as _pt
    bad = df.withColumn("m", F.col("m") + 1)
    with _pt.raises(ValueError):
        ops.join_count_stats(bad, ["k"], "i", "x", "y", "m", r).collect()


def test_hausdorff_to_templates_matches_brute(spark):
    from engine import spatial
    rng = np.random.default_rng(53)
    pts = [(f"u{i % 4}", int(rng.integers(0, 100)),
            int(rng.integers(0, 100))) for i in range(80)]
    # planted: u9 sits EXACTLY on template 0 -> h_sym = 0 and is_best
    tpls = [(0, 10, 10), (0, 20, 10), (1, 500, 500), (1, 510, 500)]
    pts += [("u9", 10, 10), ("u9", 20, 10)]
    pdf = spark.createDataFrame(pd.DataFrame(pts, columns=["u", "x", "y"]))
    tdf = spark.createDataFrame(
        pd.DataFrame(tpls, columns=["tpl_id", "tx", "ty"]))
    got = {(r["u"], r["tpl_id"]): (r["h_ab"], r["h_ba"], r["h_sym"],
                                   r["is_best"])
           for r in spatial.hausdorff_to_templates(
               pdf, tdf, ["u"], "x", "y").collect()}
    users = sorted({u for u, _x, _y in pts})
    assert len(got) == len(users) * 2
    for u in users:
        A = [(x, y) for uu, x, y in pts if uu == u]
        hs = {}
        for t in (0, 1):
            B = [(tx, ty) for ti, tx, ty in tpls if ti == t]
            d2 = lambda p, q: (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2
            h_ab = max(min(d2(a, b) for b in B) for a in A)
            h_ba = max(min(d2(a, b) for a in A) for b in B)
            hs[t] = (h_ab, h_ba, max(h_ab, h_ba))
        best = min((hs[t][2], t) for t in (0, 1))[1]
        for t in (0, 1):
            assert got[(u, t)] == (*hs[t], t == best), (u, t)
    assert got[("u9", 0)] == (0, 0, 0, True)
    import pytest as _pt
    with _pt.raises(ValueError):
        spatial.hausdorff_to_templates(pdf, tdf.limit(0), ["u"], "x", "y")
    with _pt.raises(ValueError):
        spatial.hausdorff_to_templates(pdf, tdf, ["u"], "x", "y",
                                       max_template_pts=2)
    big = tdf.withColumn("tx", F.col("tx") + F.lit(1 << 31))
    with _pt.raises(ValueError):
        spatial.hausdorff_to_templates(pdf, big, ["u"], "x", "y")


def test_areal_interp_matches_brute(spark):
    rng = np.random.default_rng(59)
    src = []
    for i in range(20):
        x1, y1 = int(rng.integers(0, 80)), int(rng.integers(0, 80))
        src.append((int(i), x1, y1, x1 + int(rng.integers(0, 20)),
                    y1 + int(rng.integers(0, 20)),
                    int(rng.integers(1, 500))))
    # planted: a source exactly straddling two tiles 50/50 -> each side
    # gets exactly v//2; a degenerate 1-cell source; a value-0 source
    src += [(20, 45, 10, 54, 19, 101), (21, 7, 7, 7, 7, 33),
            (22, 60, 60, 69, 69, 0)]
    # 4 target tiles of 50x50 covering [0,100)² plus one far empty tile
    tgt = [(int(5 * a + b), 50 * a, 50 * b, 50 * a + 49, 50 * b + 49)
           for a in range(2) for b in range(2)] + [(99, 900, 900, 949, 949)]
    sdf = spark.createDataFrame(pd.DataFrame(
        src, columns=["src_id", "x1", "y1", "x2", "y2", "v"]))
    tdf = spark.createDataFrame(pd.DataFrame(
        tgt, columns=["tgt_id", "tx1", "ty1", "tx2", "ty2"]))
    got = {r["tgt_id"]: (r["v_q"], r["n_src"], r["inter_cells"])
           for r in ops.areal_interp(
               sdf, tdf, [], ("x1", "y1", "x2", "y2"),
               ("tx1", "ty1", "tx2", "ty2"), "v", cell=32).collect()}
    assert len(got) == len(tgt)
    for ti, tx1, ty1, tx2, ty2 in tgt:
        vq = ns = ic = 0
        for _si, x1, y1, x2, y2, v in src:
            if x1 <= tx2 and tx1 <= x2 and y1 <= ty2 and ty1 <= y2:
                w = min(x2, tx2) - max(x1, tx1) + 1
                h = min(y2, ty2) - max(y1, ty1) + 1
                ns += 1
                ic += w * h
                vq += (v * w * h) // ((x2 - x1 + 1) * (y2 - y1 + 1))
        assert got[ti] == (vq, ns, ic), ti
    assert got[99] == (0, 0, 0)
    # straddler by hand: 100 cells, 50 in each tile -> 101*50//100 = 50
    assert all((101 * 50) // 100 == 50 for _ in [0])
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.areal_interp(sdf.withColumn("v", F.col("v") - 1000), tdf,
                         [], ("x1", "y1", "x2", "y2"),
                         ("tx1", "ty1", "tx2", "ty2"), "v", cell=32)
    huge = sdf.withColumn("x2", F.col("x1") + F.lit(1 << 16)) \
              .withColumn("y2", F.col("y1") + F.lit(1 << 16))
    with _pt.raises(ValueError):
        ops.areal_interp(huge, tdf, [], ("x1", "y1", "x2", "y2"),
                         ("tx1", "ty1", "tx2", "ty2"), "v", cell=32)


def _brute_snap(pts, segs, r):
    out = {}
    for pi, px, py in pts:
        best = None
        for si, x1, y1, x2, y2 in segs:
            l2 = (x2 - x1) ** 2 + (y2 - y1) ** 2
            tnum = (px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)
            if l2 == 0 or tnum <= 0:
                fl, rem = (px - x1) ** 2 + (py - y1) ** 2, 0
            elif tnum >= l2:
                fl, rem = (px - x2) ** 2 + (py - y2) ** 2, 0
            else:
                c = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                fl, rem = (c * c) // l2, (c * c) % l2
            if fl < r * r or (fl == r * r and rem == 0):
                fr = 0 if rem == 0 else (rem << 20) // l2
                k = (fl, fr, si)
                if best is None or k < best:
                    best = k
        if best is not None:
            out[pi] = best
    return out


def test_snap_to_segments_matches_brute(spark):
    from engine import spatial
    rng = np.random.default_rng(61)
    segs = []
    for i in range(12):
        x1, y1 = int(rng.integers(0, 80)), int(rng.integers(0, 80))
        segs.append((int(i), x1, y1, x1 + int(rng.integers(-20, 21)),
                     y1 + int(rng.integers(-20, 21))))
    # planted: a degenerate point-segment; two horizontal twins
    # equidistant from a probe point (tie -> smaller seg_id); a
    # vertical segment with a probe at EXACTLY r (rem 0, IN) and a
    # probe whose floor equals r² with rem > 0 (OUT of a lone segment)
    segs += [(50, 200, 200, 200, 200),
             (60, 300, 310, 320, 310), (61, 300, 290, 320, 290),
             (70, 400, 0, 400, 100)]
    pts = [(int(1000 + i), int(rng.integers(0, 100)),
            int(rng.integers(0, 100))) for i in range(60)]
    pts += [(2000, 205, 200),          # near the degenerate segment
            (2001, 310, 300),          # exact midline tie: seg 60 wins
            (2002, 405, 50),           # interior rational case
            (2003, 410, 50),           # exactly r=10 from seg 70: IN
            (2004, 997, 997)]          # far from everything: no row
    r = 10
    pdf = spark.createDataFrame(
        pd.DataFrame(pts, columns=["p_id", "px", "py"]))
    sdf = spark.createDataFrame(
        pd.DataFrame(segs, columns=["seg_id", "x1", "y1", "x2", "y2"]))
    got = {row["p_id"]: (row["d2_floor"], row["d2_frac_q"],
                         row["seg_id"])
           for row in spatial.snap_to_segments(
               pdf, sdf, [], "px", "py", "x1", "y1", "x2", "y2",
               r).collect()}
    assert got == _brute_snap(pts, segs, r)
    assert got[2001][2] == 60           # tie resolved by seg_id
    assert got[2003] == (100, 0, 70)    # exact-boundary membership
    assert 2004 not in got
    import pytest as _pt
    with _pt.raises(ValueError):
        spatial.snap_to_segments(pdf, sdf, [], "px", "py",
                                 "x1", "y1", "x2", "y2", 0)
    with _pt.raises(ValueError):
        spatial.snap_to_segments(pdf, sdf, [], "px", "py",
                                 "x1", "y1", "x2", "y2", 5000)
    long = sdf.withColumn("x2", F.col("x1") + F.lit(5000))
    with _pt.raises(ValueError):
        spatial.snap_to_segments(pdf, long, [], "px", "py",
                                 "x1", "y1", "x2", "y2", r)


def _snap_long_road(spark):
    from engine import spatial
    big = 1 << 40
    pts = spark.createDataFrame([(1, 0, 0)], ["p_id", "px", "py"])
    segs = spark.createDataFrame([(1, 0, 0, big, big)],
                                 ["seg_id", "x1", "y1", "x2", "y2"])
    spatial.snap_to_segments(pts, segs, [], "px", "py",
                             "x1", "y1", "x2", "y2", 1)


def _bbox_giant_box(spark):
    big = 1 << 61
    a = spark.createDataFrame([("k", 1, -big, -big, big, big)],
                              ["k", "a_id", "x1", "y1", "x2", "y2"])
    b = spark.createDataFrame([("k", 1, 0, 0, 1, 1)],
                              ["k", "b_id", "u1", "v1", "u2", "v2"])
    ops.bbox_overlap_join(a, b, ["k"], ("x1", "y1", "x2", "y2"),
                          ("u1", "v1", "u2", "v2"), 1)


_MIN = -(1 << 63)


def _pts(spark, rows, cols="k x y"):
    return spark.createDataFrame(rows, cols.split())


def _hull(spark):
    from engine import spatial
    spatial.convex_hull_2d(_pts(spark, [("k", _MIN, 0), ("k", 1, 1)]),
                           ["k"], "x", "y")


def _diameter(spark):
    from engine import spatial
    spatial.hull_diameter(_pts(spark, [("k", _MIN, 0), ("k", 1, 1)]),
                          ["k"], "x", "y")


def _hausdorff(spark):
    from engine import spatial
    spatial.hausdorff_to_templates(
        _pts(spark, [("k", _MIN, 0)]),
        _pts(spark, [(1, 0, 0)], "tpl_id tx ty"), ["k"], "x", "y")


def _snap_wide_segment(spark):
    from engine import spatial
    spatial.snap_to_segments(
        _pts(spark, [(1, 0, 0)], "p_id px py"),
        _pts(spark, [(1, -(1 << 62), 0, 1 << 62, 0)], "seg_id x1 y1 x2 y2"),
        [], "px", "py", "x1", "y1", "x2", "y2", 1)


def _trace(spark, xs):
    return _pts(spark, [("k", i, x, x) for i, x in enumerate(xs)],
                "k t x y")


def _radial(spark):
    ops.simplify_radial(_trace(spark, [_MIN, 0]), ["k"], ["t"], "x", "y", 1)


def _vw(spark):
    ops.simplify_vw_rounds(_trace(spark, [_MIN, 0, 1]), ["k"], "t", "x",
                           "y", 1, 0)


def _disp_coord(spark):
    ops.displacement_hist(_trace(spark, [_MIN, 0]), ["k"], ["t"], "x", "y",
                          [1])


def _disp_sum(spark):
    lim = (1 << 30) - 1
    ops.displacement_hist(_trace(spark, [lim * (-1) ** i for i in range(9)]),
                          ["k"], ["t"], "x", "y", [1])


def _trip_euclid(spark):
    ops.trip_stats(_trace(spark, [_MIN, 0]), ["k"], "t", "x", "y", "t",
                   metric="euclid")


def _zscore(spark):
    ops.zscore_outliers(_pts(spark, [("k", 1, _MIN), ("k", 2, 0)],
                             "k id v"), ["k"], "v", ["id"])


def _linreg(spark):
    ops.linreg_per_group(_pts(spark, [("k", _MIN, 0), ("k", 0, 1)]),
                         ["k"], "x", "y")


def _autocorr(spark):
    ops.autocorr_lag(_trace(spark, [_MIN, 0, 1]), ["k"], "t", "x")


def _gyration(spark):
    ops.radius_of_gyration(_pts(spark, [("k", _MIN, 0)]), ["k"], "x", "y")


def _directional(spark):
    ops.directional_stats(_pts(spark, [("k", _MIN, 0)]), ["k"], "x", "y")


def _seg_intersect(spark):
    a = _pts(spark, [("k", 1, _MIN, 0, 0, 0)], "k a_id x1 y1 x2 y2")
    b = _pts(spark, [("k", 1, 0, 0, 1, 1)], "k b_id u1 v1 u2 v2")
    ops.segment_intersect_join(a, b, ["k"], ("x1", "y1", "x2", "y2"),
                               ("u1", "v1", "u2", "v2"), 4)


def _rect_union(spark):
    ops.rect_union_area(_pts(spark, [("k", _MIN, 0, 0, 1)], "k x1 y1 x2 y2"),
                        ["k"])


def _polygon(spark):
    ops.polygon_area_centroid(
        _pts(spark, [("p", 1, _MIN, 0), ("p", 2, 0, 0), ("p", 3, 0, 1)],
             "p seq x y"), ["p"], "seq", "x", "y")


def _gini(spark, vals):
    ops.gini_coefficient(_pts(spark, [("k", v) for v in vals], "k v"),
                         ["k"], "v")


def _cusum(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    ops.cusum_alarm(_pts(spark, [("k", t0 + dt.timedelta(seconds=i), 1 << 62)
                                 for i in range(4)], "k ts v"),
                    ["k"], "ts", "v", 0, 1)


def _bbox_min_corner(spark):
    a = _pts(spark, [("k", 1, _MIN, 0, 0, 1)], "k a_id x1 y1 x2 y2")
    b = _pts(spark, [("k", 1, 0, 0, 1, 1)], "k b_id u1 v1 u2 v2")
    ops.bbox_overlap_join(a, b, ["k"], ("x1", "y1", "x2", "y2"),
                          ("u1", "v1", "u2", "v2"), 3)


def _zonal_min_corner(spark):
    from engine import tiles
    tiles.zonal_stats(_pts(spark, [(0, 0, 1)], "cx cy v"),
                      _pts(spark, [(1, _MIN, 0, 0, 1)],
                           "zone_id zx1 zy1 zx2 zy2"),
                      "cx", "cy", "v", cell=3)


def _snap_min_corner(spark):
    from engine import spatial
    spatial.snap_to_segments(
        _pts(spark, [(1, 0, 0)], "p_id px py"),
        _pts(spark, [(1, _MIN, 0, _MIN + 5000, 0)], "seg_id x1 y1 x2 y2"),
        [], "px", "py", "x1", "y1", "x2", "y2", 1)


@pytest.mark.parametrize("call,msg", [
    (_snap_long_road, "split long roads"),
    (_bbox_giant_box, "max_cells"),
    (_hull, "convex_hull_2d: .coordinate. exceeds 2.30 "),
    (_diameter, "hull_diameter: .coordinate. exceeds"),
    (_hausdorff, "hausdorff_to_templates: .coordinate. exceeds"),
    (_radial, "simplify_radial: max .coord. = 9223372036854775808 "),
    (_vw, "simplify_vw_rounds: .coordinate. exceeds"),
    (_disp_coord, "displacement_hist: .coordinate. > 2.30 - 1"),
    (_trip_euclid, "trip_stats: euclid metric needs"),
    (_zscore, "zscore_outliers: k.n.max.x. = 73786976294838206464 "),
    (_linreg, "linreg_per_group: max.n.max.x., n.max.y.. = "
              "18446744073709551616 "),
    (_autocorr, "autocorr_lag: n.max.x. = "),
    (_gyration, "radius_of_gyration: .coordinate. >= 2.15"),
    (_directional, "directional_stats: .coordinate. >= 2.15"),
    (_seg_intersect, "segment_intersect_join: .coordinate. exceeds"),
    (_rect_union, "rect_union_area: inverted box or .coord."),
    (_polygon, "polygon_area_centroid: rebased extent "
               "9223372036854775808 / ring length 3 "),
    (lambda s: _gini(s, [1 << 62, 1 << 62, 1]),
     "gini_coefficient: n.max.x. = 13835058055282163712 "),
    (lambda s: _gini(s, [-1, 1 << 62]),
     "gini_coefficient: values must be non-negative"),
    (_cusum, "cusum_alarm: n.max.x-k. = 18446744073709551616 "),
    (_snap_wide_segment, "snap_to_segments: a segment spans "
                         "9223372036854775808 "),
    (_disp_sum, "displacement_hist: Σdist² overflow"),
    (_bbox_min_corner, "bbox_overlap_join: a box covers more than"),
    (_zonal_min_corner, "zonal_stats: a zone covers more than"),
    (_snap_min_corner, "snap_to_segments: a segment spans 5000 "),
], ids=["snap_to_segments", "bbox_overlap_join", "convex_hull_2d",
        "hull_diameter", "hausdorff_to_templates", "simplify_radial",
        "simplify_vw_rounds", "displacement_hist", "trip_stats_euclid",
        "zscore_outliers", "linreg_per_group", "autocorr_lag",
        "radius_of_gyration", "directional_stats", "segment_intersect_join",
        "rect_union_area", "polygon_area_centroid", "gini_coefficient",
        "gini_coefficient_order", "cusum_alarm", "snap_to_segments_extent",
        "displacement_hist_sum", "bbox_overlap_join_min_corner",
        "zonal_stats_min_corner", "snap_to_segments_min_corner"])
def test_envelope_raises_contract_under_ansi(spark, call, msg):
    """An input outside an operator's envelope must raise the contract
    ValueError, not an ANSI ArithmeticException from the check's own
    arithmetic (|−2^63|, n·max, x − min, Σdist²), and the first rule
    declared wins."""
    with pytest.raises(ValueError, match=msg):
        call(spark)


def test_require_raises_first_declared_rule(spark):
    from engine.envelope import require
    df = spark.createDataFrame([(1,), (5,)], ["v"])
    with pytest.raises(ValueError, match="^small$"):
        require(df, (F.min("v"), lambda v: v < 2, "small"),
                (F.max("v"), lambda v: v > 2, lambda v: f"big {v}"))
    with pytest.raises(ValueError, match="^big 5$"):
        require(df, (F.max("v"), lambda v: v > 2, lambda v: f"big {v}"),
                (F.min("v"), lambda v: v < 2, "small"))


def test_require_empty_input_passes_with_none(spark):
    from engine.envelope import require
    df = spark.createDataFrame([(1,)], ["v"]).filter("v > 1")
    vals = require(df, (F.max("v"), lambda v: True, "never"),
                   (F.count(F.lit(1)), lambda n: n > 0, "never"))
    assert vals == (None, 0)


def test_require_runs_one_job(spark):
    """Every rule of one require call runs in ONE Spark job (counted with
    AQE off, which otherwise submits each shuffle stage as its own
    job)."""
    from engine.envelope import beyond, require, wide
    sc = spark.sparkContext
    df = spark.createDataFrame([(i % 3, i) for i in range(50)], ["k", "v"])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("require-one-job", "envelope check")
        vals = require(df, (F.count(F.lit(1)), lambda n: n == 0, "empty"),
                       (F.bool_or(beyond(100, F.col("v"))), bool, "far"),
                       (F.max(wide("k") * F.col("v")), lambda p: p > 200,
                        "big"))
        ids = sc.statusTracker().getJobIdsForGroup("require-one-job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert vals == (50, False, 94)
    assert len(ids) == 1


def test_quadrat_test_matches_brute(spark):
    rng = np.random.default_rng(71)
    # clustered key (everything in one corner) vs scattered key
    pts = [("c", int(rng.integers(0, 10)), int(rng.integers(0, 10)))
           for _ in range(40)]
    pts += [("s", int(rng.integers(0, 100)), int(rng.integers(0, 100)))
            for _ in range(40)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["k", "x", "y"]))
    gx = gy = 5
    got = {r["k"]: (r["n_pts"], r["n_quadrats"], r["occ"], r["sum_sq"],
                    r["chi2_num"])
           for r in ops.quadrat_test(df, ["k"], "x", "y",
                                     0, 0, 100, 100, gx, gy).collect()}
    for k in ("c", "s"):
        cnt = {}
        for kk, x, y in pts:
            if kk == k:
                cnt[(x // 20, y // 20)] = cnt.get((x // 20, y // 20), 0) + 1
        n = sum(cnt.values())
        ss = sum(c * c for c in cnt.values())
        assert got[k] == (n, 25, len(cnt), ss, 25 * ss - n * n), k
    # clustered key's dispersion index exceeds CSR, scattered one is low
    assert got["c"][4] > got["s"][4]
    import pytest as _pt
    with _pt.raises(ValueError):  # out-of-extent point
        ops.quadrat_test(df, ["k"], "x", "y", 0, 0, 50, 50, 5, 5)
    with _pt.raises(ValueError):  # non-dividing grid
        ops.quadrat_test(df, ["k"], "x", "y", 0, 0, 100, 100, 7, 5)


def test_ripley_cross_k_matches_brute(spark):
    rng = np.random.default_rng(73)
    apts = [(int(i), int(rng.integers(0, 30)), int(rng.integers(0, 30)))
            for i in range(25)]
    bpts = [(int(i), int(rng.integers(0, 30)), int(rng.integers(0, 30)))
            for i in range(35)]
    a = spark.createDataFrame(pd.DataFrame(apts, columns=["aid", "ax", "ay"]))
    b = spark.createDataFrame(pd.DataFrame(bpts, columns=["bid", "bx", "by"]))
    radii, area = [3, 8], 900
    got = {r["r"]: (r["n_a"], r["n_b"], r["n_pairs"], r["k_q"])
           for r in ops.ripley_cross_k(a, b, [], "aid", "ax", "ay",
                                       "bid", "bx", "by",
                                       radii, area).collect()}
    assert len(got) == 2
    for r in radii:
        cnt = sum(1 for _i, ax, ay in apts for _j, bx, by in bpts
                  if (bx - ax) ** 2 + (by - ay) ** 2 <= r * r)
        assert got[r] == (25, 35, cnt,
                          (area * cnt) // (25 * 35)), r
    # empty b side -> zero pairs, NULL k_q
    none = {r["r"]: (r["n_pairs"], r["k_q"])
            for r in ops.ripley_cross_k(
                a, b.filter(F.col("bid") < 0), [], "aid", "ax", "ay",
                "bid", "bx", "by", radii, area).collect()}
    assert none == {3: (0, None), 8: (0, None)}
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.ripley_cross_k(a, b, [], "aid", "ax", "ay", "bid", "bx",
                           "by", [8, 3], area)


def test_colocation_participation_matches_brute(spark):
    rng = np.random.default_rng(79)
    pts = [(int(i), ["A", "B", "C"][int(rng.integers(0, 3))],
            int(rng.integers(0, 40)), int(rng.integers(0, 40)))
           for i in range(70)]
    # planted: type Z far from everything -> every (Z, *) and (*, Z)
    # row PRESENT with pr_num 0; a same-type twin pair
    pts += [(100, "Z", 900, 900), (101, "Z", 990, 990),
            (102, "A", 500, 500), (103, "A", 503, 500)]
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["i", "t", "x", "y"]))
    r, fb = 5, 20
    got = {(row["type_a"], row["type_b"]):
           (row["pr_num"], row["n_type"], row["pr_q"])
           for row in ops.colocation_participation(
               df, [], "i", "t", "x", "y", r, frac_bits=fb).collect()}
    types = sorted({t for _i, t, _x, _y in pts})
    assert len(got) == len(types) ** 2
    for ta in types:
        for tb in types:
            num = sum(
                1 for i, t, x, y in pts if t == ta and any(
                    j != i and t2 == tb
                    and (x2 - x) ** 2 + (y2 - y) ** 2 <= r * r
                    for j, t2, x2, y2 in pts))
            n = sum(1 for _i, t, _x, _y in pts if t == ta)
            assert got[(ta, tb)] == (num, n, (num << fb) // n), (ta, tb)
    assert got[("Z", "A")] == (0, 2, 0)
    assert got[("A", "Z")][0] == 0
    # the planted A-twins participate in (A, A)
    assert got[("A", "A")][0] >= 2
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.colocation_participation(df, [], "i", "t", "x", "y", r,
                                     frac_bits=50)


def test_radius_of_gyration_matches_brute(spark):
    rng = np.random.default_rng(83)
    pts = [("u%d" % (i % 5), int(rng.integers(-100, 100)),
            int(rng.integers(-100, 100))) for i in range(100)]
    # planted: a stationary user (rg² = 0 exactly) and a two-point
    # user whose rg² = (d/2)² -> num = d²·n/2... checked by formula
    pts += [("home", 7, -3)] * 4 + [("pair", 0, 0), ("pair", 10, 0)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["u", "x", "y"]))
    got = {r["u"]: (r["n_pts"], r["sum_x"], r["sum_y"], r["rg2_num"],
                    r["rg2_den"], r["rg2_q"])
           for r in ops.radius_of_gyration(df, ["u"], "x", "y").collect()}
    users = sorted({u for u, _x, _y in pts})
    assert len(got) == len(users)
    for u in users:
        xs = [(x, y) for uu, x, y in pts if uu == u]
        n = len(xs)
        sx, sy = sum(x for x, _ in xs), sum(y for _, y in xs)
        ssq = sum(x * x + y * y for x, y in xs)
        num = n * ssq - sx * sx - sy * sy
        assert got[u] == (n, sx, sy, num, n * n, num // (n * n)), u
    assert got["home"][3] == 0            # stationary: rg² exactly 0
    # two points distance 10 apart: rg² = 25 -> num/den = 100/4
    assert got["pair"][3] / got["pair"][4] == 25.0
    import pytest as _pt
    big = df.withColumn("x", F.col("x") + F.lit(1 << 16))
    with _pt.raises(ValueError):
        ops.radius_of_gyration(big, ["u"], "x", "y")


def test_displacement_hist_matches_brute(spark):
    rng = np.random.default_rng(89)
    rows = [("u%d" % (i % 3), int(i), int(rng.integers(0, 200)),
             int(rng.integers(0, 200))) for i in range(60)]
    # planted: a single-point key emits NOTHING; exact edge boundary
    # steps (d² = edge lands in the UPPER bin)
    rows += [("one", 0, 5, 5),
             ("edge", 0, 0, 0), ("edge", 1, 5, 0), ("edge", 2, 5, 10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "seq", "x", "y"]))
    edges = [25, 100]
    got = {(r["u"], r["bin"]): (r["n_steps"], r["sum_d2"], r["n"])
           for r in ops.displacement_hist(
               df, ["u"], ["seq"], "x", "y", edges).collect()}
    users = {}
    for u, seq, x, y in rows:
        users.setdefault(u, []).append((seq, x, y))
    expect_keys = 0
    for u, pts in users.items():
        pts.sort()
        d2s = [(pts[i + 1][1] - pts[i][1]) ** 2
               + (pts[i + 1][2] - pts[i][2]) ** 2
               for i in range(len(pts) - 1)]
        if not d2s:
            assert not any(k[0] == u for k in got)
            continue
        expect_keys += len(edges) + 1
        for b in range(len(edges) + 1):
            n = sum(1 for d in d2s
                    if sum(1 for e in edges if e <= d) == b)
            assert got[(u, b)] == (len(d2s), sum(d2s), n), (u, b)
    assert len(got) == expect_keys
    # the exact-boundary steps: d²=25 -> bin 1, d²=100 -> bin 2
    assert got[("edge", 1)][2] == 1 and got[("edge", 2)][2] == 1
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.displacement_hist(df, ["u"], ["seq"], "x", "y", [100, 25])
    big = df.withColumn("x", F.col("x") + F.lit(1 << 31))
    with _pt.raises(ValueError):
        ops.displacement_hist(big, ["u"], ["seq"], "x", "y", edges)


def test_location_diversity_matches_brute(spark):
    rng = np.random.default_rng(97)
    rows = [("u%d" % (i % 4), int(rng.integers(0, 5)),
             int(rng.integers(0, 5))) for i in range(80)]
    # planted: a tie between two cells with equal counts -> the
    # lexicographically smaller (cx, cy) must win
    rows += [("tie", 9, 9), ("tie", 9, 9), ("tie", 3, 7), ("tie", 3, 7)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "cx", "cy"]))
    got = {r["u"]: (r["n_pings"], r["n_cells"], r["top_count"],
                    r["top_cx"], r["top_cy"], r["top_share_q"])
           for r in ops.location_diversity(df, ["u"], "cx",
                                           "cy").collect()}
    users = {}
    for u, cx, cy in rows:
        users.setdefault(u, {}).setdefault((cx, cy), 0)
        users[u][(cx, cy)] += 1
    assert len(got) == len(users)
    for u, cells in users.items():
        n = sum(cells.values())
        top = min(((-c, cx, cy) for (cx, cy), c in cells.items()))
        tc = -top[0]
        assert got[u] == (n, len(cells), tc, top[1], top[2],
                          (tc << 20) // n), u
    assert got["tie"][3:5] == (3, 7)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.location_diversity(df, ["u"], "cx", "cy", frac_bits=60)


def test_rect_components_matches_brute(spark):
    # planted: 0-1 share an exact-touch seam (x2 == x1), 1-2 overlap,
    # 3 is isolated, 4-5 touch only at a CORNER point (still closed-
    # box intersection -> merge)
    rects = [(0, 0, 0, 10, 10), (1, 10, 0, 20, 10), (2, 15, 5, 30, 8),
             (3, 100, 100, 110, 110),
             (4, 200, 200, 210, 210), (5, 210, 210, 220, 220)]
    df = spark.createDataFrame(pd.DataFrame(
        rects, columns=["rid", "x1", "y1", "x2", "y2"]))
    got = {r["rid"]: (r["component_id"], r["n_rects"], r["comp_x1"],
                      r["comp_y1"], r["comp_x2"], r["comp_y2"])
           for r in ops.rect_components(
               df, [], "rid", ("x1", "y1", "x2", "y2"),
               cell=16).collect()}
    assert len(got) == 6
    assert got[0] == (0, 3, 0, 0, 30, 10)
    assert got[1] == (0, 3, 0, 0, 30, 10)
    assert got[2] == (0, 3, 0, 0, 30, 10)
    assert got[3] == (3, 1, 100, 100, 110, 110)
    assert got[4] == (4, 2, 200, 200, 220, 220)
    assert got[5] == (4, 2, 200, 200, 220, 220)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.rect_components(df, ["rid"], "rid",
                            ("x1", "y1", "x2", "y2"), cell=16)
    inv = df.withColumn("x2", F.col("x1") - 1)
    with _pt.raises(ValueError):
        ops.rect_components(inv, [], "rid",
                            ("x1", "y1", "x2", "y2"), cell=16).collect()


def test_nn_distance_stats_matches_brute(spark):
    import math
    rng = np.random.default_rng(101)
    pts = [("g", int(i), int(rng.integers(0, 60)), int(rng.integers(0, 60)))
           for i in range(50)]
    # planted: an isolated point, a perfect-square NN distance (d=5)
    # and a non-square one (d²=2), plus a key with NO matches at all
    pts += [("g", 100, 500, 500),
            ("p", 200, 0, 0), ("p", 201, 3, 4), ("p", 202, 4, 5),
            ("lone", 300, 0, 0), ("lone", 301, 900, 900)]
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["k", "i", "x", "y"]))
    r = 8
    got = {row["k"]: (row["n_pts"], row["n_matched"], row["n_isolated"],
                      row["sum_d2"], row["max_d2"], row["sum_d"])
           for row in ops.nn_distance_stats(df, ["k"], "i", "x", "y",
                                            r).collect()}
    assert len(got) == 3
    for k in ("g", "p", "lone"):
        kp = [(i, x, y) for kk, i, x, y in pts if kk == k]
        n = len(kp)
        d2s = []
        for i, x, y in kp:
            cand = [(x2 - x) ** 2 + (y2 - y) ** 2
                    for j, x2, y2 in kp if j != i]
            best = min(cand) if cand else None
            if best is not None and best <= r * r:
                d2s.append(best)
        sd = sum(math.isqrt(v) for v in d2s)
        want = (n, len(d2s), n - len(d2s), sum(d2s),
                max(d2s) if d2s else 0, sd)
        assert got[k] == want, k
    # planted key p: NN(200)=25 (d=5 exact), NN(201)=2 (isqrt 1),
    # NN(202)=2
    assert got["p"] == (3, 3, 0, 29, 25, 7)
    assert got["lone"] == (2, 0, 2, 0, 0, 0)
    import pytest as _pt
    with _pt.raises(ValueError):
        ops.nn_distance_stats(df, ["k"], "i", "x", "y", 1 << 27)


def test_directional_stats_matches_brute(spark):
    rng = np.random.default_rng(103)
    pts = [("u%d" % (i % 3), int(rng.integers(-50, 50)),
            int(rng.integers(-50, 50))) for i in range(90)]
    # planted: a perfectly horizontal line (syy_num = 0, sxy_num = 0)
    # and a perfect diagonal (sxx_num == syy_num == sxy_num)
    pts += [("h", -4, 7), ("h", 0, 7), ("h", 9, 7),
            ("diag", 0, 0), ("diag", 5, 5), ("diag", 9, 9)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["u", "x", "y"]))
    got = {r["u"]: (r["n_pts"], r["sum_x"], r["sum_y"], r["sxx_num"],
                    r["syy_num"], r["sxy_num"])
           for r in ops.directional_stats(df, ["u"], "x", "y").collect()}
    users = {}
    for u, x, y in pts:
        users.setdefault(u, []).append((x, y))
    assert len(got) == len(users)
    for u, kp in users.items():
        n = len(kp)
        sx = sum(x for x, _ in kp)
        sy = sum(y for _, y in kp)
        assert got[u] == (
            n, sx, sy,
            n * sum(x * x for x, _ in kp) - sx * sx,
            n * sum(y * y for _, y in kp) - sy * sy,
            n * sum(x * y for x, y in kp) - sx * sy), u
    assert got["h"][4] == 0 and got["h"][5] == 0
    assert got["diag"][3] == got["diag"][4] == got["diag"][5] > 0
    import pytest as _pt
    big = df.withColumn("x", F.col("x") + F.lit(1 << 16))
    with _pt.raises(ValueError):
        ops.directional_stats(big, ["u"], "x", "y")


def test_mann_kendall_matches_brute(spark):
    rng = np.random.default_rng(107)
    rows = []
    for k, gen in (("up", lambda t: t * 2 + int(rng.integers(0, 2))),
                   ("down", lambda t: 100 - 3 * t),
                   ("flat", lambda t: 7),
                   ("rand", lambda t: int(rng.integers(0, 10)))):
        for t in range(12):
            rows.append((k, t, gen(t)))
    rows.append(("one", 0, 5))     # single observation: S = 0
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "t", "v"]))
    got = {r["k"]: (r["n_pts"], r["s_stat"], r["var18_num"])
           for r in ops.mann_kendall(df, ["k"], "t", "v").collect()}
    series = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    assert len(got) == len(series)
    for k, sv in series.items():
        sv.sort()
        n = len(sv)
        s = sum((sv[j][1] > sv[i][1]) - (sv[j][1] < sv[i][1])
                for i in range(n) for j in range(i + 1, n))
        ties = {}
        for _t, v in sv:
            ties[v] = ties.get(v, 0) + 1
        tsum = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        assert got[k] == (n, s, n * (n - 1) * (2 * n + 5) - tsum), k
    assert got["up"][1] == 66          # strictly increasing: n(n-1)/2
    assert got["down"][1] == -66
    assert got["flat"][1] == 0
    # all-tied series: var18_num = 0 exactly
    assert got["flat"][2] == 0
    assert got["one"] == (1, 0, 0)
    import pytest as _pt
    dup = df.union(spark.createDataFrame(
        pd.DataFrame([("up", 3, 99)], columns=["k", "t", "v"])))
    with _pt.raises(ValueError):
        ops.mann_kendall(dup, ["k"], "t", "v")
    with _pt.raises(ValueError):
        ops.mann_kendall(df, ["k"], "t", "v", max_n=5)


def test_heading_sectors_matches_brute(spark):
    # planted walk hitting every class: E, NE(exact diag), N, NW, W,
    # SW, S, SE, stay
    walk = [(0, 0), (5, 0), (8, 3), (8, 9), (5, 12), (0, 11),
            (-4, 7), (-4, 0), (1, -5), (1, -5)]
    rows = [("w", i, x, y) for i, (x, y) in enumerate(walk)]
    rng = np.random.default_rng(109)
    rows += [("r", int(i), int(rng.integers(-20, 20)),
              int(rng.integers(-20, 20))) for i in range(40)]
    rows += [("one", 0, 7, 7)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "seq", "x", "y"]))
    out = ops.heading_sectors(df, ["u"], ["seq"], "x", "y").collect()
    got = {(r["u"], r["sector"]): (r["n"], r["dom_sector"],
                                   r["n_steps"]) for r in out}

    def classify(dx, dy):
        if dx == 0 and dy == 0:
            return 0
        if abs(dx) == abs(dy):
            return {(1, 1): 2, (-1, 1): 4, (-1, -1): 6,
                    (1, -1): 8}[(dx > 0) - (dx < 0),
                                (dy > 0) - (dy < 0)]
        if abs(dx) > abs(dy):
            return 1 if dx > 0 else 5
        return 3 if dy > 0 else 7

    users = {}
    for u, seq, x, y in rows:
        users.setdefault(u, []).append((seq, x, y))
    for u, pts in users.items():
        pts.sort()
        secs = [classify(pts[i + 1][1] - pts[i][1],
                         pts[i + 1][2] - pts[i][2])
                for i in range(len(pts) - 1)]
        if not secs:
            assert not any(k[0] == u for k in got)
            continue
        cnt = {}
        for s in secs:
            cnt[s] = cnt.get(s, 0) + 1
        dom = min((-n, s) for s, n in cnt.items())[1]
        for s, n in cnt.items():
            assert got[(u, s)] == (n, dom, len(secs)), (u, s)
    # the planted walk visits all 9 classes exactly once each; the
    # dominant tie across all nine resolves to the smallest id (0)
    wrows = {k[1]: v for k, v in got.items() if k[0] == "w"}
    assert set(wrows) == set(range(9))
    assert all(v[0] == 1 and v[1] == 0 for v in wrows.values())
    assert not any(k[0] == "one" for k in got)


def test_hull_diameter_renamed_columns(spark):
    """hull_diameter must work when the coordinate columns are not
    literally named x/y (convex_hull_2d's output schema hard-codes
    x/y; the selection must use those, not the caller's names)."""
    from engine import spatial
    rows = [("k", 0, 0), ("k", 3, 4), ("k", 1, 1)]
    df = spark.createDataFrame(rows, ["k", "px", "py"])
    got = spatial.hull_diameter(df, ["k"], "px", "py").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.x1, r.y1, r.x2, r.y2, r.dist2) == (0, 0, 3, 4, 25)


def test_hull_diameter_builds_with_one_scan(spark):
    """Building hull_diameter runs its own envelope check only: that
    check implies convex_hull_2d's, so the hull is not checked again
    (jobs counted with AQE off, which otherwise submits each shuffle
    stage as its own job)."""
    from engine import spatial
    sc = spark.sparkContext
    df = spark.createDataFrame([("k", 0, 0), ("k", 3, 4)], ["k", "x", "y"])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("hull-diameter-build", "build only")
        spatial.hull_diameter(df, ["k"], "x", "y")
        ids = sc.statusTracker().getJobIdsForGroup("hull-diameter-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(ids) == 1


def test_snap_to_segments_at_long_min(spark):
    """At r = 1 the padded cell box of a segment on x = -2^63 is clipped
    to the long range instead of overflowing, and the match is exact."""
    from engine import spatial
    lo = -(1 << 63)
    pts = spark.createDataFrame([(1, lo, 1), (2, lo + 3, 0)],
                                ["p_id", "px", "py"])
    segs = spark.createDataFrame([(7, lo, 0, lo + 2, 0)],
                                 ["seg_id", "x1", "y1", "x2", "y2"])
    got = sorted((r["p_id"], r["seg_id"], r["d2_floor"], r["d2_frac_q"])
                 for r in spatial.snap_to_segments(
                     pts, segs, [], "px", "py", "x1", "y1", "x2", "y2",
                     1).collect())
    assert got == [(1, 7, 1, 0), (2, 7, 1, 0)]
