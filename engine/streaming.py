"""Structured Streaming twins of the batch operators (SURVEY.md §2.8).

The reference is strictly batch; crawl data is naturally late-arriving, so
the streaming posture is: watermark on warc_ts, session windows as the
streaming twin of W2 sessionization, and an applyInPandasWithState episode
machine for W3 run-segmentation.

Two episode machines (SURVEY.md §2.8):
  stream_episodes       low-latency RAW label-run (W3) emission as points
                        arrive — no retroactive W5 demotion.
  stream_episodes_full  exact W3+W5 batch parity: W5 is subset-local, so
                        each observation-gap subset is buffered in state and
                        run through the SAME _subset_runs fixpoint as batch
                        build_episodes the moment the event-time watermark
                        proves it closed (EventTimeTimeout for the tail).
Equivalence vs ops.sessionize / episodes.build_episodes is tested in
tests/test_streaming.py using the memory sink.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .config import DEFAULT, EngineConfig
from .grid import bin_floor, fence_cells


def stream_sessionize(pages_stream: DataFrame,
                      cfg: EngineConfig = DEFAULT,
                      watermark: str = "48 hours") -> DataFrame:
    """W2 streaming twin: per-host session windows with `gap_s` gap.

    Returns one row per closed session: host, session start/end, n_points.
    (F.session_window merges windows whose events are within the gap —
    identical session boundaries to the batch lag-cumsum for a total
    event-time order.)
    """
    gap = f"{int(cfg.gap_s)} seconds"
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy("host", F.session_window("warc_ts", gap))
            .agg(F.count(F.lit(1)).alias("n_points"))
            .select("host",
                    F.col("session_window.start").alias("start_ts"),
                    F.col("session_window.end").alias("end_ts"),
                    "n_points"))


_EP_STATE_SCHEMA = "last_ts long, cur_label int, cur_start long, n int"
_EP_OUT_SCHEMA = ("host string, start_ts timestamp, end_ts timestamp, "
                  "location_id int, n_points int")


def _episode_machine(cfg: EngineConfig):
    """Vectorized per batch (no per-row Python): run boundaries = gaps >
    gap_s OR null-safe label changes, found with one numpy pass; the open
    run rides in state across batches.  Emissions are identical to the
    row-loop form it replaces (end = previous ts on a gap, boundary ts on
    a label change)."""
    import numpy as np

    gap_us = int(cfg.gap_s * 1e6)

    def fn(key, pdfs, state: GroupState):
        host = key[0]
        if state.exists:
            last_ts, cur_label, cur_start, n = state.get
        else:
            last_ts, cur_label, cur_start, n = None, None, None, 0
        outs = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["warc_ts", "url"], kind="mergesort")
            ts = (pdf["warc_ts"].astype("datetime64[us]").astype("int64")
                  .to_numpy())
            lab = pdf["location_id"].astype("float64").to_numpy()  # NaN=travel
            m = len(ts)
            prev_ts = np.empty(m, dtype=np.int64)
            prev_lab = np.empty(m)
            prev_ts[1:] = ts[:-1]
            prev_lab[1:] = lab[:-1]
            if last_ts is None:
                base_start, base_label, base_n = int(ts[0]), float(lab[0]), 0
                prev_ts[0] = ts[0]      # no boundary at row 0
                prev_lab[0] = lab[0]
            else:
                base_start, base_n = cur_start, n
                base_label = np.nan if cur_label is None else float(cur_label)
                prev_ts[0] = last_ts
                prev_lab[0] = base_label
            gap = ts - prev_ts > gap_us
            chg = ((np.isnan(lab) != np.isnan(prev_lab))
                   | (~np.isnan(lab) & ~np.isnan(prev_lab)
                      & (lab != prev_lab)))
            bnd = np.flatnonzero(gap | chg)
            if len(bnd):
                starts = np.empty(len(bnd), dtype=np.int64)
                labels = np.empty(len(bnd))
                counts = np.empty(len(bnd), dtype=np.int64)
                starts[0], labels[0] = base_start, base_label
                counts[0] = base_n + bnd[0]
                if len(bnd) > 1:
                    starts[1:] = ts[bnd[:-1]]
                    labels[1:] = lab[bnd[:-1]]
                    counts[1:] = np.diff(bnd)
                ends = np.where(gap[bnd], prev_ts[bnd], ts[bnd])
                outs.append(pd.DataFrame({
                    "host": host,
                    "start_ts": starts.astype("datetime64[us]"),
                    "end_ts": ends.astype("datetime64[us]"),
                    "location_id": pd.array(
                        [None if np.isnan(v) else int(v) for v in labels],
                        dtype="Int32"),
                    "n_points": counts.astype("int32"),
                }))
                i0 = int(bnd[-1])
                cur_start = int(ts[i0])
                cur_label = None if np.isnan(lab[i0]) else int(lab[i0])
                n = m - i0
            else:
                cur_start = base_start
                cur_label = (None if np.isnan(base_label)
                             else int(base_label))
                n = base_n + m
            last_ts = int(ts[-1])
        state.update((last_ts, cur_label, cur_start, n))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return fn


def stream_episodes(assigned_stream: DataFrame,
                    cfg: EngineConfig = DEFAULT) -> DataFrame:
    """W3 streaming twin: stateful per-host run segmentation.  Emits an
    episode whenever the assigned location changes or an observation gap
    closes the run.  Input: streaming (host, url, warc_ts, location_id)."""
    return (assigned_stream
            .groupBy("host")
            .applyInPandasWithState(_episode_machine(cfg),
                                    outputStructType=_EP_OUT_SCHEMA,
                                    stateStructType=_EP_STATE_SCHEMA,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# W3 + W5 streaming twin with exact batch parity (closed subsets)
# ---------------------------------------------------------------------------

_FULL_STATE_SCHEMA = "ts array<long>, lab array<double>"
_FULL_OUT_SCHEMA = ("host string, start_ts timestamp, end_ts timestamp, "
                    "kind string, location_id int")


def _full_episode_machine(cfg: EngineConfig):
    """W5 is retroactive (demote short dwells, re-merge, fixpoint) but it is
    SUBSET-LOCAL: batch build_episodes applies it per observation-gap subset
    (engine/episodes.py::_subset_runs).  A subset is therefore final as soon
    as no point can still arrive within gap_s of its last fix — exactly when
    the event-time watermark passes last_ts + gap_s.  This machine buffers
    the open tail of each host's point stream in state, and whenever the
    watermark confirms a gap it runs the SAME _subset_runs fixpoint the
    batch kernel runs, emitting byte-equivalent W3+W5 episodes plus the
    trailing 'unknown' gap episode (whose end — the next subset's first
    ts — is final for the same watermark reason)."""
    import numpy as np

    from .episodes import _subset_runs

    gap_us = int(cfg.gap_s * 1e6)
    min_dwell_us = int(cfg.min_dwell_s * 1e6)

    def emit(host, t, lab):
        starts, ends, labels = _subset_runs(t, lab, min_dwell_us)
        return pd.DataFrame({
            "host": host,
            "start_ts": np.array(starts, dtype="datetime64[us]"),
            "end_ts": np.array(ends, dtype="datetime64[us]"),
            "kind": ["travel" if np.isnan(l) else "activity" for l in labels],
            "location_id": pd.array(
                [pd.NA if np.isnan(l) else int(l) for l in labels],
                dtype="Int32"),
        })

    def gap_row(host, start_us, end_us):
        return pd.DataFrame({
            "host": [host],
            "start_ts": np.array([start_us], dtype="datetime64[us]"),
            "end_ts": np.array([end_us], dtype="datetime64[us]"),
            "kind": ["unknown"],
            "location_id": pd.array([pd.NA], dtype="Int32"),
        })

    def fn(key, pdfs, state: GroupState):
        host = key[0]
        ts_list, lab_list = state.get if state.exists else ([], [])
        t = np.asarray(ts_list, dtype=np.int64)
        lab = np.asarray(lab_list, dtype=np.float64)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            nt = pdf["warc_ts"].astype("datetime64[us]").astype("int64")
            nl = pdf["location_id"].astype("float64")
            t = np.concatenate([t, nt.to_numpy()])
            lab = np.concatenate([lab, nl.to_numpy()])
        if len(t) == 0:
            state.remove()
            return
        order = np.argsort(t, kind="stable")
        t, lab = t[order], lab[order]
        wm_us = state.getCurrentWatermarkMs() * 1000

        # split the buffer at observation gaps; a boundary is FINAL when the
        # watermark has passed the successor's first ts (no late point can
        # land inside the gap or before that successor any more).
        cut = np.flatnonzero(t[1:] - t[:-1] > gap_us) + 1
        bounds = [0, *cut.tolist(), len(t)]
        outs = []
        keep_from = 0
        next_trigger_us = None  # first UNCLOSED boundary's successor ts
        for bi in range(len(bounds) - 2):  # all but the tail subset
            s, e = bounds[bi], bounds[bi + 1]
            nxt = t[bounds[bi + 1]]  # first ts of the successor subset
            if wm_us >= nxt:
                outs.append(emit(host, t[s:e], lab[s:e]))
                outs.append(gap_row(host, int(t[e - 1]), int(nxt)))
                keep_from = e
            else:
                next_trigger_us = int(nxt)
                break
        t, lab = t[keep_from:], lab[keep_from:]
        # tail subset: final when the watermark passes last_ts + gap
        # (either observed now, or via the event-time timeout set below)
        if len(t) and wm_us > int(t[-1]) + gap_us:
            outs.append(emit(host, t, lab))
            t = t[:0]
            lab = lab[:0]
        if len(t):
            state.update((t.tolist(), lab.tolist()))
            # Wake at the EARLIEST pending closure trigger: the first
            # unclosed interior boundary's successor ts (an interior
            # subset becomes final the moment the watermark passes it —
            # a host that never goes quiet still must flush its closed
            # interior subsets), else the tail's last_ts + gap.  Both are
            # strictly beyond the current watermark here (anything at or
            # before it was just emitted above), as Spark requires.
            trig = (next_trigger_us if next_trigger_us is not None
                    else int(t[-1]) + gap_us)
            state.setTimeoutTimestamp(trig // 1000 + 1)
        else:
            state.remove()
        for out in outs:
            yield out

    return fn


def stream_episodes_full(assigned_stream: DataFrame,
                         cfg: EngineConfig = DEFAULT,
                         watermark: str = "48 hours") -> DataFrame:
    """W3+W5 streaming twin with exact batch parity on emitted rows.

    Input: streaming (host, warc_ts, location_id) — the kNN-assigned point
    stream.  Output rows are identical (up to the global seq column, which
    requires a total order and stays batch) to engine.episodes.
    build_episodes on the same points, for every subset the watermark has
    closed.  Late points inside the watermark are handled exactly (the whole
    subset is buffered and only processed at close); points later than the
    watermark are dropped by Spark's stateful-op late-row filter, as in any
    watermarked aggregation."""
    return (assigned_stream
            .withWatermark("warc_ts", watermark)
            .groupBy("host")
            .applyInPandasWithState(_full_episode_machine(cfg),
                                    outputStructType=_FULL_OUT_SCHEMA,
                                    stateStructType=_FULL_STATE_SCHEMA,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.EventTimeTimeout))


def stream_cell_density(points_stream: DataFrame,
                        cfg: EngineConfig = DEFAULT,
                        window: str = "10 minutes",
                        watermark: str = "30 minutes",
                        quant_ms: bool = False) -> DataFrame:
    """Streaming twin of the tiles raster path: geopoints stream ->
    interpolated KDE mass sites -> cell encode -> time-windowed cell
    density (a rolling heat map).

    All pre-aggregation ops are stateless/narrow (the same native exprs as
    batch interpolate_sites + encode_cell_native), so the only stateful
    operator is the windowed sum; the watermark on warc_ts bounds its
    state and admits late crawl records up to `watermark`.  Sites inherit
    their segment's start timestamp — identical semantics to running the
    batch raster per time window.  Output: (window, cell_id, mass_s),
    append mode.

    `quant_ms=True` floors each site's mass to integer MILLISECONDS before
    the windowed sum (output column `mass_ms`, long) — the same
    quantization the tile pyramid's exact oracle uses: every aggregation
    becomes an order-independent integer sum, so the emitted rows are
    bit-portable and SQL-replayable.  The float path stays the default.
    """
    from . import trace_prep
    sites = trace_prep.interpolate_sites(points_stream, cfg,
                                         carry_cols=("warc_ts",))
    from .functions import encode_cell_native
    cells = encode_cell_native(sites, "site_lat", "site_lon", "cell_id",
                               cfg.cell_level)
    grouped = (cells if not quant_ms else
               cells.withColumn("mass_ms",
                                F.floor(F.col("mass_s") * 1000.0)
                                .cast("long"))) \
        .withWatermark("warc_ts", watermark) \
        .groupBy(F.window("warc_ts", window).alias("window"), "cell_id")
    if quant_ms:
        return grouped.agg(F.sum("mass_ms").alias("mass_ms"))
    return grouped.agg(F.sum("mass_s").alias("mass_s"))


def batch_windowed_cell_density(points: DataFrame,
                                cfg: EngineConfig = DEFAULT,
                                window: str = "10 minutes") -> DataFrame:
    """Batch parity twin of stream_cell_density (same plan minus the
    watermark) — used by tests to assert streaming == batch."""
    from . import trace_prep
    from .functions import encode_cell_native
    sites = trace_prep.interpolate_sites(points, cfg,
                                         carry_cols=("warc_ts",))
    cells = encode_cell_native(sites, "site_lat", "site_lon", "cell_id",
                               cfg.cell_level)
    return (cells.groupBy(F.window("warc_ts", window).alias("window"),
                          "cell_id")
            .agg(F.sum("mass_s").alias("mass_s")))


def stream_interval_join(left_stream: DataFrame, right_stream: DataFrame,
                         key: str = "host",
                         right_key: str = "place_host",
                         left_ts: str = "warc_ts",
                         right_ts: str = "place_ts",
                         before_s: float = 300.0, after_s: float = 300.0,
                         watermark: str = "48 hours",
                         how: str = "inner") -> DataFrame:
    """STREAM-STREAM event-time interval join (the J3 range-join twin for
    two live inputs): pair each left row with the right rows of the same
    `key` whose event time falls in [left_ts - before_s, left_ts +
    after_s].  The crawl posture: enrich the geopoint stream with a
    concurrently-arriving place-ping/check-in stream per host.

    Both sides carry an event-time watermark and the join condition is
    equality on `key` AND a two-sided time range — exactly what Spark
    needs to bound join state: a buffered left row is dropped once the
    right watermark passes left_ts + after_s (no future right row can
    land in its window any more), and symmetrically for buffered right
    rows, so state is O(rows per watermark horizon per side), never
    O(stream).  Without the range condition the state store would have
    to keep every row forever — the classic unbounded stream-join trap.

    `how='inner'` emits each matched pair as soon as both sides have
    arrived.  `how='left_outer'` additionally emits a null-extended row
    for a left row when its state is evicted un-matched (i.e. only once
    the watermark PROVES no match can arrive) — late, but correct; the
    outer row cannot be emitted earlier without risking a retraction.

    Column names must be disjoint across the two inputs (enforced — the
    right key rides under its own name, `right_key`) so the joined
    schema is unambiguous.
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    overlap = set(left_stream.columns) & set(right_stream.columns)
    if overlap:
        raise ValueError(
            f"left/right column names must be disjoint, both have {overlap}"
            " — rename (e.g. right.withColumnRenamed) before joining")
    rkey = right_key
    if rkey not in right_stream.columns:
        raise ValueError(f"right stream has no key column {rkey!r}")
    lw = left_stream.withWatermark(left_ts, watermark).alias("l")
    rw = right_stream.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{rkey} AND "
        f"r.{right_ts} >= l.{left_ts} - INTERVAL {int(before_s)} SECONDS AND "
        f"r.{right_ts} <= l.{left_ts} + INTERVAL {int(after_s)} SECONDS")
    return lw.join(rw, cond, how)


def stream_dedup_exact(docs_stream: DataFrame, ts_col: str = "warc_ts",
                       text_col: str = "text",
                       watermark: str = "48 hours") -> DataFrame:
    """Streaming twin of text.dedup_exact (§2.10): emit the first arrival
    of each distinct text; later copies within the watermark horizon are
    dropped.  The dedup key is the same (xxhash64, md5, length) triple as
    the batch operator — the text itself never enters the state store —
    and dropDuplicatesWithinWatermark bounds state: a key is evicted once
    the watermark passes its event time, so state is O(distinct keys per
    horizon), not O(corpus).  The crawl posture: re-crawls of an unchanged
    page arrive within days; older re-appearances re-emit (exactly the
    horizon semantics a 10^12-row ingest needs to keep state finite)."""
    keyed = (docs_stream
             .withColumn("_h64", F.xxhash64(F.col(text_col)))
             .withColumn("_hmd5", F.md5(F.col(text_col).cast("binary")))
             .withColumn("_hlen", F.length(F.col(text_col))))
    return (keyed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_h64", "_hmd5", "_hlen"])
            .drop("_h64", "_hmd5", "_hlen"))


def stream_curation(docs_stream: DataFrame, min_tokens: int = 12,
                    ts_col: str = "warc_ts", text_col: str = "text",
                    watermark: str = "4 hours") -> DataFrame:
    """Streaming twin of the batch curation pipeline's gate -> dedup
    prefix (§2.10 curation_pipeline): a map-only token-length quality
    gate (the batch stage-1 tokens_col gate) feeding stream_dedup_exact,
    so the emitted stream carries the FIRST arrival of every distinct
    passing text.  The gate runs BEFORE dedup — failing rows never enter
    the dedup state store, which at crawl scale is the difference
    between state O(distinct passing texts per horizon) and O(all
    texts).  Compose with stream_upsert (the exactly-once CDC sink) to
    maintain a curated table incrementally; the end-to-end chain is
    driver-visible as the stream_curation query, whose oracle is the
    batch replay (gate + DISTINCT) — batch boundaries cannot change the
    final table because the sink's per-key fold is associative and the
    payload is text-determined."""
    from engine.text import tokens_col
    gated = docs_stream.filter(
        F.size(tokens_col(F.col(text_col))) >= int(min_tokens))
    return stream_dedup_exact(gated, ts_col=ts_col, text_col=text_col,
                              watermark=watermark)


def stream_upsert(changes_stream: DataFrame, table_path: str,
                  key_cols: list[str] | str, checkpoint: str,
                  op_col: str = "op", seq_col: str = "seq"):
    """Streaming CDC ingestion sink (foreachBatch -> merge-on-read
    table): every micro-batch commits one reduced delta via
    catalog.write_cdc_delta and the current table state is
    catalog.read_merge_on_read (base + one-pass fold of all deltas);
    catalog.compact_cdc_table bounds read amplification.

    Exactly-once: Structured Streaming's foreachBatch is at-least-once
    (a crash between sink write and checkpoint commit replays the
    batch); write_cdc_delta makes the sink idempotent by recording
    applied batch ids in the table manifest behind an atomic rename, so
    replayed batches are no-ops and the end-to-end contract is
    exactly-once.  Batch boundaries don't affect the final state — the
    per-key max-seq fold is associative — which is also what makes the
    result exactly checkable against a batch oracle.

    Returns the started StreamingQuery (availableNow trigger: drains
    what exists, then stops — the cron-style incremental-ingest shape;
    pass a persistent checkpoint to resume from the high-water mark on
    the next run)."""
    from engine import catalog

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        catalog.write_cdc_delta(batch_df, table_path, batch_id, key_cols,
                                op_col, seq_col)

    return (changes_stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def stream_geofence(points_stream: DataFrame, fences: DataFrame,
                    gap_s: int, watermark: str = "4 hours",
                    user_col: str = "user_id", ts_col: str = "ts",
                    x_col: str = "x", y_col: str = "y",
                    fence_id: str = "fence_id", cx_col: str = "cx",
                    cy_col: str = "cy", r_col: str = "r") -> DataFrame:
    """Streaming twin of ops.geofence_visits: per (user, circular
    fence) session-window visits over the LIVE point stream — the
    enter/exit event feed a geofencing product actually ships.  The
    fence membership decision is the same exact int64 dist² <= r²
    (fences ride broadcast over their <= 9 cover cells of width
    max-radius, so the hit test is a map-side static join and the
    stream never shuffles for it); hits then fold into
    F.session_window(`gap_s`) per (user, fence) — two hits belong to
    one visit iff separated by <= gap_s, a visit closes end = last +
    gap when the watermark passes it (append mode).  NOTE the
    documented semantic difference from the batch op: the batch rule
    splits a visit on any CONSECUTIVE-trace outside ping (it can see
    the whole trace); the streaming rule is time-gap-based, the only
    bounded-state formulation — the oracle replays the session rule,
    not the batch rule.

    Returns one row per CLOSED visit: (user, fence_id, enter_ts =
    session start, exit_ts = session end = last + gap, n_points).
    The watermark is declared on the point stream BEFORE the join, so
    eviction tracks the full input's event-time high-water mark (the
    replayable contract), not just the hit substream's.

    Fence radii must be in [1, 2^29] (raise; same envelope as the
    batch op).  100-TB posture: state is one open session per active
    (user, fence) — bounded by live keys, evicted by the watermark;
    the broadcast side is fence cells, a dim table.
    """
    fcells, cw = fence_cells(fences, fence_id, cx_col, cy_col, r_col,
                             "stream_geofence")
    pts = (points_stream
           .withWatermark(ts_col, watermark)
           .withColumn("_px", F.col(x_col).cast("long"))
           .withColumn("_py", F.col(y_col).cast("long"))
           .withColumn("_gx", bin_floor(F.col("_px"), cw))
           .withColumn("_gy", bin_floor(F.col("_py"), cw)))
    dx = F.col("_px") - F.col("_cx")
    dy = F.col("_py") - F.col("_cy")
    hits = (pts.join(F.broadcast(fcells), ["_gx", "_gy"])
            .filter(dx * dx + dy * dy <= F.col("_r") * F.col("_r")))
    gap = f"{int(gap_s)} seconds"
    return (hits.groupBy(F.col(user_col), F.col("_fid"),
                         F.session_window(F.col(ts_col), gap))
            .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
            .select(F.col(user_col), F.col("_fid").alias(fence_id),
                    F.col("session_window.start").alias("enter_ts"),
                    F.col("session_window.end").alias("exit_ts"),
                    "n_points"))


_STEP_STATE_SCHEMA = "last_t long, last_x long, last_y long"
_STEP_OUT_SCHEMA = ("user_id long, t_prev long, t_curr long, "
                    "dist2 long")


def _step_machine():
    """Vectorized per batch: consecutive displacements via one numpy
    diff pass; the last position rides in state so the first step of a
    new batch closes against the previous batch's tail.

    The group's WHOLE micro-batch is gathered and sorted ONCE before the
    diff: applyInPandasWithState splits a large group into multiple Arrow
    chunks delivered in unspecified order, so the previous per-chunk sort
    silently diffed across unsorted chunk seams for users with more rows
    than the Arrow batch size (could even emit t_prev > t_curr)."""
    import numpy as np

    def fn(key, pdfs, state: GroupState):
        uid = key[0]
        if state.exists:
            last_t, last_x, last_y = state.get
        else:
            last_t = last_x = last_y = None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            if last_t is not None:
                state.update((last_t, last_x, last_y))
            return
        pdf = (pd.concat(frames, ignore_index=True)
               if len(frames) > 1 else frames[0])
        pdf = pdf.sort_values(["t", "x", "y"], kind="mergesort")
        t = pdf["t"].astype("int64").to_numpy()
        x = pdf["x"].astype("int64").to_numpy()
        y = pdf["y"].astype("int64").to_numpy()
        if last_t is not None:
            t = np.concatenate(([last_t], t))
            x = np.concatenate(([last_x], x))
            y = np.concatenate(([last_y], y))
        state.update((int(t[-1]), int(x[-1]), int(y[-1])))
        if len(t) >= 2:
            dx = np.diff(x)
            dy = np.diff(y)
            yield pd.DataFrame({
                "user_id": uid,
                "t_prev": t[:-1],
                "t_curr": t[1:],
                "dist2": dx * dx + dy * dy,
            })

    return fn


def stream_steps(points_stream: DataFrame) -> DataFrame:
    """A58's streaming twin — ONLINE consecutive-displacement
    extraction: a stateful per-user machine (applyInPandasWithState,
    NoTimeout) keeps each user's last position and emits one
    (t_prev, t_curr, dist²) row the moment the NEXT point arrives —
    the low-latency feed under live jump-length distributions,
    speed/teleport anomaly alarms and online mobility features; the
    open tail (each user's latest position) is withheld by
    construction, exactly like the W3 low-latency machine withholds
    the open run.  dist² is the same exact int64 the batch op emits,
    so downstream binning matches A58 bit-for-bit.  Input: streaming
    (user_id, t, x, y) with integer micros t.  Batch-boundary
    contract: within a batch each user's frame is processed sorted by
    (t, x, y); the cross-batch seam closes against the state, so with
    single-batch ingestion the emission set is exactly the batch lag
    replay minus nothing (every step has both endpoints in-batch).
    State is 3 longs per active user — bounded by live keys.
    """
    return (points_stream
            .groupBy("user_id")
            .applyInPandasWithState(_step_machine(),
                                    outputStructType=_STEP_OUT_SCHEMA,
                                    stateStructType=_STEP_STATE_SCHEMA,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.NoTimeout))
