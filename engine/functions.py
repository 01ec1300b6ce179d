"""Spark column-expression library (SURVEY.md §2.7).

Design rule (§4.2): prefer native, codegen-able column expressions; drop to
Arrow-vectorized pandas UDFs ONLY for the cell math that genuinely needs
numpy (Hilbert bit interleaving).  No per-row Python anywhere
(BASELINE.json:6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geo
from .config import EARTH_RADIUS_M

# ---------------------------------------------------------------------------
# native expressions (JVM-side, whole-stage-codegen'd)
# ---------------------------------------------------------------------------

def epoch_s(col: Column) -> Column:
    """Timestamp (TZ or NTZ) -> epoch seconds as double (microsecond exact).

    NTZ values are interpreted in the session time zone, which the engine
    pins to UTC (engine/session.py) — matching DuckDB's naive-as-UTC
    ``epoch()`` so oracle comparisons are exact.
    """
    return col.cast("timestamp").cast("double")


def haversine_m_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle meters as a native expression (X2) — identical math to
    engine.geo.haversine_m so Spark-side and numpy-side distances agree."""
    rlat1, rlon1 = F.radians(lat1), F.radians(lon1)
    rlat2, rlon2 = F.radians(lat2), F.radians(lon2)
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2.0), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2.0), 2)
    )
    h = F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def parent_cell_col(cell: Column, level: int) -> Column:
    """Parent cell at coarser `level` — pure bit math, no UDF (X6).

    Mirrors engine.geo.cell_parent:  (id & ~(2*lsb-1)) | lsb.
    """
    lsb = 1 << (2 * (geo.MAX_LEVEL - level))
    mask = _signed64(~(2 * lsb - 1))
    return cell.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(lsb))


def host_from_url(url: Column) -> Column:
    """Registrable-host extraction (graft user key, SURVEY.md §1.2)."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


# Geotag token grammar (FIXTURES.md §1, X5): [geo:<lat>,<lon>;acc=<m>]
# lat/lon at exactly 6 decimals, acc one decimal — byte-stable regex.
GEOTAG_RE = r"\[geo:(-?\d+\.\d{6}),(-?\d+\.\d{6});acc=(\d+\.\d)\]"


def geotag_token(text: Column) -> Column:
    """The whole matched geotag token ('' if absent) — ONE regex pass."""
    return F.regexp_extract(text, GEOTAG_RE, 0)


def geotag_cols_from_token(tok: Column) -> tuple[Column, Column, Column]:
    """(lat, lon, acc_m) parsed from a matched token with cheap substring
    ops (no further regex).  Token grammar is fixed (FIXTURES.md §1):
    [geo:<lat>,<lon>;acc=<m>] — values byte-identical to the 3-group regex
    parse, so the DuckDB oracles (which use regexp groups) agree exactly."""
    # strip "[geo:" (5 chars) and the trailing "]"
    body = F.substring(tok, F.lit(6), F.length(tok) - 6)
    lat = F.nullif(F.substring_index(body, ",", 1), F.lit("")).cast("double")
    rest = F.substring_index(body, ",", -1)
    lon = F.nullif(F.substring_index(rest, ";", 1), F.lit("")).cast("double")
    acc = F.nullif(F.substring_index(rest, "=", -1), F.lit("")).cast("double")
    return lat, lon, acc


def geotag_cols(text: Column) -> tuple[Column, Column, Column]:
    """(lat, lon, acc_m) doubles extracted from `text`; null if no token."""
    lat = F.nullif(F.regexp_extract(text, GEOTAG_RE, 1), F.lit("")).cast("double")
    lon = F.nullif(F.regexp_extract(text, GEOTAG_RE, 2), F.lit("")).cast("double")
    acc = F.nullif(F.regexp_extract(text, GEOTAG_RE, 3), F.lit("")).cast("double")
    return lat, lon, acc


# ---------------------------------------------------------------------------
# native (whole-stage-codegen) cell encode — X6 hot path
# ---------------------------------------------------------------------------

def _hilbert_nibble_table():
    """1024-entry lookup for the Hilbert FSM: index = state*256 + i4*16 + j4,
    value = (8 d-bits << 2) | next_state.  State = swap | (complement << 1);
    the per-bit transform group {I, swap, comp, swap*comp} is abelian, so the
    loop form of geo.hilbert_xy2d (which flips/swaps the whole remainder)
    composes to exactly this per-bit flag machine (equality property-tested
    in tests/test_geo.py)."""
    import numpy as np
    tab = np.zeros(1024, dtype=np.int64)
    for state in range(4):
        for i4 in range(16):
            for j4 in range(16):
                s, c = state & 1, (state >> 1) & 1
                d8 = 0
                for bit in (3, 2, 1, 0):
                    bx = ((i4 >> bit) & 1) ^ c
                    by = ((j4 >> bit) & 1) ^ c
                    rx, ry = (by, bx) if s else (bx, by)
                    d8 = (d8 << 2) | ((3 * rx) ^ ry)
                    if ry == 0:
                        s ^= 1
                        c ^= rx
                tab[state * 256 + i4 * 16 + j4] = (d8 << 2) | (s | (c << 1))
    return tab


def encode_cell_native(df, lat_col: str, lon_col: str, out: str,
                       level: int):
    """Attach `out` = cell id at `level` — PURE native expressions, no UDF.

    Bit-exact twin of engine.geo.cell_encode (property-tested in
    tests/test_geo.py), structured as a chain of projections so the Hilbert
    rotation state (x, y, d) stays in whole-stage-codegen locals instead of
    re-inlined expression trees.  This is the 100-TB path: the interpolated
    site table is ~7x the point table and routing it through an Arrow UDF
    made the encode memory-bandwidth-bound (fresh numpy temporaries per
    batch) — codegen reuses its buffers and never leaves the JVM.

    Caveat: NaN coordinates take Spark's NaN-ordering semantics (NaN >
    everything) instead of numpy's all-false comparisons, so NaN rows may
    differ from the UDF — upstream filters F2/F5 drop them before any
    encode, and both paths are deterministic.
    """
    # --- lat/lon -> unit XYZ -> cube face + (u, v)
    lon_n = F.pmod(F.col(lon_col) + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    latr = F.radians(F.col(lat_col))
    lonr = F.radians(lon_n)
    df = df.withColumns({
        "_ex": F.cos(latr) * F.cos(lonr),
        "_ey": F.cos(latr) * F.sin(lonr),
        "_ez": F.sin(latr),
    })
    df = _xyz_to_face_ij_cols(df, level)
    return _hilbert_pack_native(df, out, level)


def _xyz_to_face_ij_cols(df, level: int):
    """_ex/_ey/_ez -> _face plus the pad-preswapped Hilbert inputs _hx/_hy
    (drops the xyz temps).  Twin of geo._xyz_to_face_uv + _uv_to_st +
    st->ij clip; split out so explode_kring_native can re-enter the encode
    from an extended-face XYZ instead of lat/lon."""
    n = 1 << level
    x, y, z = F.col("_ex"), F.col("_ey"), F.col("_ez")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face0 = (F.when(ax >= ay, F.when(ax >= az, 0).otherwise(2))
             .otherwise(F.when(ay >= az, 1).otherwise(2)))
    major = (F.when(face0 == 0, x).when(face0 == 1, y).otherwise(z))
    df = df.withColumn(
        "_face", F.when(major < 0, face0 + 3).otherwise(face0).cast("long"))
    fc = F.col("_face")
    u = (F.when(fc == 0, y / x).when(fc == 1, -x / y).when(fc == 2, -x / z)
         .when(fc == 3, z / x).when(fc == 4, z / y).otherwise(-y / z))
    v = (F.when(fc == 0, z / x).when(fc == 1, z / y).when(fc == 2, -y / z)
         .when(fc == 3, y / x).when(fc == 4, -x / y).otherwise(-x / z))

    def uv_to_st(c):
        return (F.when(c >= 0.0, 0.5 * F.sqrt(1.0 + 3.0 * c))
                .otherwise(1.0 - 0.5 * F.sqrt(1.0 - 3.0 * c)))

    def st_to_ij(c):
        # numpy `.astype(int64)` truncates toward zero, as does Spark's cast
        raw = (c * F.lit(float(n))).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw))

    rounds = (level + 3) // 4
    pad = 4 * rounds - level
    si, sj = (uv_to_st(v), uv_to_st(u)) if pad % 2 else \
             (uv_to_st(u), uv_to_st(v))
    return (df.withColumns({"_hx": st_to_ij(si),
                            "_hy": st_to_ij(sj)})
            .drop("_ex", "_ey", "_ez"))


def _hilbert_pack_native(df, out: str, level: int):
    """(_face, _hx, _hy) -> `out` cell id (drops the temps).

    Hilbert xy2d via the 4-bit lookup FSM (S2's ijToPos technique):
    level/4 table rounds instead of `level` bit rounds keeps the codegen
    method small (a per-bit projection chain blows past the JIT's huge-
    method limit and falls back to interpreted eval — measured 15x slower).
    Padding to a multiple of 4 bits prepends (0,0) bit planes, each of
    which only toggles the FSM's swap flag — compensated by pre-swapping
    the inputs when the pad is odd (callers hand _hx/_hy pre-swapped).
    """
    rounds = (level + 3) // 4
    df = df.withColumns({"_hd": F.lit(0).cast("long"), "_hs": F.lit(0)})
    table = F.lit([int(t) for t in _hilbert_nibble_table()])
    for r in range(rounds - 1, -1, -1):
        hx, hy = F.col("_hx"), F.col("_hy")
        idx = (F.col("_hs") * 256
               + F.shiftright(hx, 4 * r).bitwiseAND(F.lit(15)) * 16
               + F.shiftright(hy, 4 * r).bitwiseAND(F.lit(15)))
        df = df.withColumn("_hv", F.element_at(table, (idx + 1).cast("int")))
        df = df.withColumns({
            "_hd": F.shiftleft(F.col("_hd"), 8)
                    .bitwiseOR(F.shiftright(F.col("_hv"), 2).cast("long")),
            "_hs": F.col("_hv").bitwiseAND(F.lit(3)),
        })
    # pad rounds' top digits are always zero — _hd already equals xy2d(level)
    df = df.drop("_hv", "_hs")

    # --- pack: face(3 bits) | d(2*level bits) | sentinel | zeros
    shift = 2 * (geo.MAX_LEVEL - level)
    cid = (F.shiftleft(F.col("_face"), geo._FACE_SHIFT)
           .bitwiseOR(F.shiftleft(F.col("_hd"), shift + 1))
           .bitwiseOR(F.lit(1 << shift)))
    return df.withColumn(out, cid).drop("_face", "_hx", "_hy", "_hd")


def _hilbert_inv_nibble_table():
    """Inverse of _hilbert_nibble_table: index = state*256 + d8, value =
    (i4 << 6) | (j4 << 2) | next_state.  Built by inverting the forward
    table, so the two FSMs are consistent by construction (the forward is a
    per-state bijection (i4, j4) <-> d8 with a shared next-state)."""
    import numpy as np
    fwd = _hilbert_nibble_table()
    inv = np.zeros(1024, dtype=np.int64)
    for state in range(4):
        for i4 in range(16):
            for j4 in range(16):
                v = int(fwd[state * 256 + i4 * 16 + j4])
                inv[state * 256 + (v >> 2)] = (i4 << 6) | (j4 << 2) | (v & 3)
    return inv


def decode_cell_native(df, cid_col: str, level: int,
                       face_out: str = "_dface", i_out: str = "_di",
                       j_out: str = "_dj"):
    """cell id (at `level`) -> (face, i, j) — PURE native expressions.

    Bit-exact twin of geo.cell_to_face_ij (integer-only: bit extraction +
    the inverse Hilbert nibble FSM), same chained-projection structure as
    the encode so the FSM state stays in whole-stage-codegen locals.
    """
    rounds = (level + 3) // 4
    pad = 4 * rounds - level
    shift = 2 * (geo.MAX_LEVEL - level) + 1
    cid = F.col(cid_col)
    df = df.withColumns({
        face_out: F.shiftrightunsigned(cid, geo._FACE_SHIFT),
        "_dd": F.shiftright(cid.bitwiseAND(F.lit((1 << 61) - 1)),
                            shift),
        "_dx": F.lit(0).cast("long"),
        "_dy": F.lit(0).cast("long"),
        "_ds": F.lit(0),
    })
    tab = F.lit([int(t) for t in _hilbert_inv_nibble_table()])
    for r in range(rounds - 1, -1, -1):
        idx = (F.col("_ds") * 256
               + F.shiftright(F.col("_dd"), 8 * r).bitwiseAND(F.lit(255)))
        df = df.withColumn("_dv", F.element_at(tab, (idx + 1).cast("int")))
        df = df.withColumns({
            "_dx": F.shiftleft(F.col("_dx"), 4)
                    .bitwiseOR(F.shiftright(F.col("_dv"), 6).cast("long")),
            "_dy": F.shiftleft(F.col("_dy"), 4)
                    .bitwiseOR(F.shiftright(F.col("_dv"), 2)
                                .bitwiseAND(F.lit(15)).cast("long")),
            "_ds": F.col("_dv").bitwiseAND(F.lit(3)),
        })
    # the FSM decodes the PADDED coords (the encode's pre-swap convention):
    # un-swap when the pad is odd
    ii, jj = ("_dy", "_dx") if pad % 2 else ("_dx", "_dy")
    df = df.withColumns({i_out: F.col(ii), j_out: F.col(jj)})
    return df.drop("_dd", "_dv", "_ds", "_dx", "_dy")


def explode_kring_native(df, level: int, k: int = 1,
                         cid_col: str = "cell_id",
                         pos_out: str = "pos", ncell_out: str = "ncell"):
    """UDF-free k-ring explode: each row fans out to its (2k+1)^2 ring
    members, with `pos_out` the row-major offset index (di-major — the
    exact order tiles._ring_weights emits) and `ncell_out` the neighbor
    cell id at `level`.  Bit-exact twin of geo.cell_neighbors
    (property-tested): in-face steps re-enter the integer Hilbert FSM
    directly; off-face steps take the extended quadratic ST -> uv -> XYZ ->
    adjacent-face path, which after the trig-free rewrite on the numpy side
    is only +,-,*,/,sqrt — ops the encode property test already pins as
    IEEE-identical across the JVM and numpy.  Replaces the Arrow
    cell-neighbors UDF in the tiling path: the whole raster pipeline now
    stays in whole-stage codegen (the explode itself is a JVM Generate).
    """
    n = 1 << level
    w = 2 * k + 1
    rounds = (level + 3) // 4
    pad = 4 * rounds - level
    df = decode_cell_native(df, cid_col, level)
    df = df.withColumn(pos_out,
                       F.explode(F.sequence(F.lit(0), F.lit(w * w - 1))))
    p = F.col(pos_out)
    df = df.withColumns({
        "_ni": F.col("_di") + (p / F.lit(w)).cast("long") - F.lit(k),
        "_nj": F.col("_dj") + F.pmod(p, F.lit(w)).cast("long") - F.lit(k),
    })
    ni, nj = F.col("_ni"), F.col("_nj")
    in_face = ((ni >= 0) & (ni < n) & (nj >= 0) & (nj < n))
    # off-face branch: extended ST -> uv -> XYZ on the source face (cheap
    # polynomials, so it is computed unconditionally and discarded for
    # in-face rows), then re-projected by the shared face/ij chain.
    s = (ni.cast("double") + F.lit(0.5)) / F.lit(float(n))
    t = (nj.cast("double") + F.lit(0.5)) / F.lit(float(n))

    def st_to_uv(c):
        return (F.when(c >= 0.5, (F.lit(4.0) * c * c - F.lit(1.0)) / F.lit(3.0))
                .otherwise((F.lit(1.0) - F.lit(4.0) * (F.lit(1.0) - c)
                            * (F.lit(1.0) - c)) / F.lit(3.0)))

    df = df.withColumns({"_eu": st_to_uv(s), "_ev": st_to_uv(t),
                         "_inf": in_face})
    fc, u, v = F.col("_dface"), F.col("_eu"), F.col("_ev")
    one = F.lit(1.0)
    df = df.withColumns({
        "_ex": (F.when(fc == 0, one).when(fc == 1, -u).when(fc == 2, -u)
                .when(fc == 3, -one).when(fc == 4, v).otherwise(v)),
        "_ey": (F.when(fc == 0, u).when(fc == 1, one).when(fc == 2, -v)
                .when(fc == 3, -v).when(fc == 4, -one).otherwise(u)),
        "_ez": (F.when(fc == 0, v).when(fc == 1, v).when(fc == 2, one)
                .when(fc == 3, -u).when(fc == 4, -u).otherwise(-one)),
    }).drop("_eu", "_ev")
    df = _xyz_to_face_ij_cols(df, level)
    # overlay the exact integer in-face step (pad pre-swap, like the encode)
    hx_if, hy_if = ("_nj", "_ni") if pad % 2 else ("_ni", "_nj")
    df = df.withColumns({
        "_face": F.when(F.col("_inf"), F.col("_dface"))
                  .otherwise(F.col("_face")),
        "_hx": F.when(F.col("_inf"), F.col(hx_if)).otherwise(F.col("_hx")),
        "_hy": F.when(F.col("_inf"), F.col(hy_if)).otherwise(F.col("_hy")),
    })
    df = _hilbert_pack_native(df, ncell_out, level)
    return df.drop("_dface", "_di", "_dj", "_ni", "_nj", "_inf")


# ---------------------------------------------------------------------------
# Arrow-vectorized UDFs (the sanctioned slow path: numpy cell math only)
# ---------------------------------------------------------------------------

def host_runs(batches):
    """Split a mapInArrow stream of host-clustered record batches (each
    host's rows contiguous, e.g. after repartition + sortWithinPartitions
    on host) into (host, pyarrow Table) per host.  A run that crosses
    batch boundaries is buffered and yielded once complete, so peak memory
    is one host's rows; the host string is read once per run."""
    import pyarrow as pa
    import pyarrow.compute as pc

    buf: list = []
    cur = None
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        h = rb.column("host")
        neq = pc.not_equal(h.slice(1), h.slice(0, n - 1))
        cut = np.flatnonzero(neq.to_numpy(zero_copy_only=False)) + 1
        for s, e in zip(np.r_[0, cut], np.r_[cut, n]):
            run_host = h[int(s)].as_py()
            if buf and run_host != cur:
                yield cur, pa.Table.from_batches(buf).combine_chunks()
                buf = []
            buf.append(rb.slice(int(s), int(e - s)))
            cur = run_host
    if buf:
        yield cur, pa.Table.from_batches(buf).combine_chunks()


def make_cell_encode_udf(level: int):
    """pandas_udf: (lat, lon) -> cell id at `level` (LongType)."""

    @F.pandas_udf(T.LongType())
    def cell_encode_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = geo.cell_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64),
                              level)
        return pd.Series(out)

    return cell_encode_udf


def make_cell_neighbors_udf(level: int, k: int = 1):
    """pandas_udf: cell id -> array<long> of the (2k+1)^2 k-ring ids."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cell_neighbors_udf(cid: pd.Series) -> pd.Series:
        arr = geo.cell_neighbors(cid.to_numpy(np.int64), level, k=k)
        return pd.Series(list(arr))

    return cell_neighbors_udf
