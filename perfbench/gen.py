"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so a
seed names one input set.  The engine only ever sees the DataFrames built
from these pandas frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Integer grid for snap_to_segments: 1e-4 degree units.  A finer grid
# (1e-5) makes stop-to-stop legs span more than the operator's 4096-unit
# per-axis envelope.
GRID_PER_DEG = 10_000


def grid_xy(lat, lon):
    """Round lat/lon onto the 1e-4 degree integer grid -> (x, y) int64."""
    x = np.rint(np.asarray(lon, dtype=np.float64) * GRID_PER_DEG)
    y = np.rint(np.asarray(lat, dtype=np.float64) * GRID_PER_DEG)
    return x.astype(np.int64), y.astype(np.int64)


def stop_table(truth_stops: pd.DataFrame) -> pd.DataFrame:
    """Planted stops as (s_id, host, slat, slon)."""
    return pd.DataFrame({
        "s_id": np.arange(len(truth_stops), dtype=np.int64),
        "host": truth_stops["host"].to_numpy(),
        "slat": truth_stops["lat"].to_numpy(np.float64),
        "slon": truth_stops["lon"].to_numpy(np.float64),
    })


def stop_segments(truth_stops: pd.DataFrame) -> pd.DataFrame:
    """One segment per unordered pair of a host's planted stops (the travel
    legs the trace generator draws), on the integer grid."""
    rows = []
    for host, g in truth_stops.groupby("host", sort=True):
        x, y = grid_xy(g["lat"], g["lon"])
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                rows.append((host, int(x[i]), int(y[i]), int(x[j]), int(y[j])))
    seg = pd.DataFrame(rows, columns=["host", "x1", "y1", "x2", "y2"])
    seg.insert(1, "seg_id", np.arange(len(seg), dtype=np.int64))
    return seg


# ---------------------------------------------------------------------------
# near-duplicate vectors
# ---------------------------------------------------------------------------

def near_dup_vectors(seed: int, n_vecs: int, dim: int = 64,
                     dup_share: float = 0.3, noise: float = 0.05):
    """Unit-scale Gaussian vectors; a share of them are noisy copies of an
    earlier vector (cosine ~0.999).  Returns (vecs[vec_id, embedding],
    the vectors as one array, planted[a, b])."""
    rng = np.random.default_rng([seed, 202])
    V = rng.standard_normal((n_vecs, dim))
    planted: list[tuple[int, int]] = []
    for i in range(1, n_vecs):
        if rng.random() < dup_share:
            src = int(rng.integers(0, i))
            V[i] = V[src] + noise * rng.standard_normal(dim)
            planted.append((src, i))
    vecs = pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(V)})
    return vecs, V, pd.DataFrame(planted, columns=["a", "b"])
