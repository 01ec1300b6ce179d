"""Normative pipeline constants — SURVEY.md §2.9 is the contract.

The reference (`SAUSy-Lab/itinerum-trip-breaker`, REF config.py [H]) keeps
all thresholds in one module of scalars; we do the same.  Values are the
reconstructed reference-faithful defaults from SURVEY.md §2.9 — goldens in
tests/ derive from exactly these numbers, so changing one invalidates the
goldens.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Mean Earth radius (m) — normative for ALL distance math (SURVEY.md §2.9).
EARTH_RADIUS_M = 6371008.8


@dataclass(frozen=True)
class EngineConfig:
    # --- point cleaning (SURVEY.md §2.2) ---
    min_accuracy_m: float = 100.0       # F2: drop fixes with acc_m > this
    max_speed_ms: float = 110.0         # G1: implied-speed ceiling for jump removal
    # --- sessionization / weights (§2.5, §2.4) ---
    gap_s: float = 3600.0               # W2: observation-gap split (1 h)
    interpolation_step_m: float = 30.0  # X3: synthetic point spacing
    # --- KDE / activity locations (§2.4) ---
    kernel_bandwidth_m: float = 25.0    # A2: Gaussian sigma
    grid_cell_m: float = 12.5           # A2: KDE grid pitch (= bandwidth / 2)
    kde_time_threshold_s: float = 600.0  # A3: peak cell must represent >= 10 min
    cluster_distance_m: float = 100.0   # A4 agglomeration + J1 assignment radius
    min_dwell_s: float = 600.0          # W5: minimum activity time (10 min)
    # --- graft-specific (§1.2) ---
    cell_level: int = 16                # X6: index level (~150 m edge)
    tile_levels: tuple[int, ...] = (16, 14, 12, 10)  # §2.8 pyramid, fine -> coarse
    knn_ring: int = 1                   # J1: k-ring radius for candidate join
    lang_allowlist: tuple[str, ...] = ("en", "fr", "de")  # F5
    tz: str = "UTC"                     # F4/S5 output rendering
    # --- physical knobs (§4.2) ---
    shuffle_partitions: int = 32        # explicit, scaled to input at submit time
    salt_buckets: int = 8               # hot-key salting fan-out
    # below this point count the chunk-parallel KDE's ~12 extra stages of
    # scheduling overhead dominate and detect_locations(auto) uses the
    # single-stage whole-host kernel instead (parity-tested to 1e-9)
    kde_chunked_min_points: int = 1_000_000
    # knn_assign_auto strategy ceiling: location tables at or under this row
    # count use the driver-collected closure-broadcast index (~50 B/row ->
    # ~500 MB at the ceiling); larger tables use the cell-cover equi-join
    # (same output contract, parity-tested)
    knn_broadcast_max_locations: int = 10_000_000


DEFAULT = EngineConfig()
