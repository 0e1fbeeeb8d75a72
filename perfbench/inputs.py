"""Seeded synthetic inputs for the benchmark workloads.

Everything is generated with NumPy from one seed, so the same seed gives
byte-identical inputs on any host. The mobility users dwell at a spot,
travel to the next one and come home after every visit
(home, A, home, B, home, C, ...), so every stage of the chain has work:
each dwell closes a staypoint, each travel leg is a tripleg and a trip,
and every second trip closes a tour at home.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
CADENCE_S = 120.0
DWELL_PFS = 10  # pfs at a spot: ~18 min, an activity at a 15-min threshold
TRAVEL_PFS = 3  # pfs between two spots, >= 375 m apart
BLOCK_PFS = DWELL_PFS + TRAVEL_PFS
AWAY_SPOTS = 3  # spots visited from home, in turn
_M_PER_DEG = 111_195.0


def mobility_pfs(seed: int, n_users: int, pfs_per_user: int) -> pd.DataFrame:
    """Positionfixes (id, user_id, tracked_at, lon, lat), time-ordered per user."""
    rng = np.random.default_rng(seed)
    n = n_users * pfs_per_user
    u = np.repeat(np.arange(n_users), pfs_per_user)
    i = np.tile(np.arange(pfs_per_user), n_users)

    # spot 0 is home; away spots lie 1.5-3 km from home
    center = np.column_stack([rng.uniform(8.40, 8.60, n_users), rng.uniform(47.30, 47.50, n_users)])
    # away spots in distinct directions (>= 60 degrees apart), so no two
    # of a user's spots fall within one location radius of each other
    ang = (
        rng.uniform(0.0, 2 * math.pi, (n_users, 1))
        + np.arange(AWAY_SPOTS) * (2 * math.pi / AWAY_SPOTS)
        + rng.uniform(-math.pi / 6, math.pi / 6, (n_users, AWAY_SPOTS))
    )
    dist_m = rng.uniform(1_500.0, 3_000.0, (n_users, AWAY_SPOTS))
    coslat = np.cos(np.deg2rad(center[:, 1]))[:, None]
    spots = np.empty((n_users, AWAY_SPOTS + 1, 2))
    spots[:, 0] = center
    spots[:, 1:, 0] = center[:, :1] + dist_m * np.cos(ang) / (_M_PER_DEG * coslat)
    spots[:, 1:, 1] = center[:, 1:] + dist_m * np.sin(ang) / _M_PER_DEG

    blk, k = i // BLOCK_PFS, i % BLOCK_PFS
    here, there = _spot_of(blk), _spot_of(blk + 1)
    frac = np.where(k < DWELL_PFS, 0.0, (k - DWELL_PFS + 1) / (TRAVEL_PFS + 1))
    a, b = spots[u, here], spots[u, there]
    jitter = rng.normal(0.0, 4.0, (n, 2)) / _M_PER_DEG  # ~4 m GPS noise
    jitter[:, 0] /= coslat[u, 0]
    pos = a + (b - a) * frac[:, None] + jitter

    t0 = EPOCH_S + rng.uniform(0.0, 3_600.0, n_users)
    ts = t0[u] + i * CADENCE_S + rng.uniform(-10.0, 10.0, n)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "user_id": u.astype(np.int64),
            "tracked_at": pd.to_datetime(np.round(ts * 1e6).astype(np.int64), unit="us"),
            "lon": pos[:, 0],
            "lat": pos[:, 1],
        }
    )


def _spot_of(blk: np.ndarray) -> np.ndarray:
    """home on even blocks, away spots 1..AWAY_SPOTS in turn on odd ones."""
    return np.where(blk % 2 == 0, 0, 1 + (blk // 2) % AWAY_SPOTS)


def expected_chain_counts(n_users: int, pfs_per_user: int) -> dict[str, int]:
    """Entity counts the chain must produce on ``mobility_pfs`` output for
    any seed and any dist_threshold in the sweep: a dwell is a staypoint
    once a travel pf closes it, each leg between two staypoints is one
    tripleg and one trip (the last trails off without a destination),
    each return to a spot the user left before (home, or an away spot
    visited again) closes one tour, and each user's distinct closed spots
    are its locations. A closed leg that repeats an earlier leg of
    its user (same spots, same direction) pairs with it in the similarity
    join."""
    closed = max(0, (pfs_per_user - DWELL_PFS - 1) // BLOCK_PFS + 1)
    visits = Counter(_spot_of(np.arange(closed)).tolist())
    n_legs = max(0, closed - 1)
    legs = Counter(zip(_spot_of(np.arange(n_legs)).tolist(), _spot_of(np.arange(1, n_legs + 1)).tolist()))
    return {
        "staypoints": n_users * closed,
        "triplegs": n_users * closed,  # the last one trails off unclosed
        "trips": n_users * closed,
        "closed_trips": n_users * max(0, closed - 1),
        "tours": n_users * sum(v - 1 for v in visits.values()),
        "locations": n_users * len(visits),
        "users": n_users,
        "repeated_leg_pairs": n_users * sum(k * (k - 1) // 2 for k in legs.values()),
    }


def trajectories(seed: int, n: int, n_sites: int, max_len: int = 6) -> pd.DataFrame:
    """Short trajectories (2..max_len vertices) around ``n_sites`` anchor
    sites on a 1.1 km grid; trajectories of one site lie within ~100 m of
    each other, so qualifying pairs exist but stay bounded per site."""
    rng = np.random.default_rng(seed)
    site = rng.integers(0, n_sites, n)
    side = int(math.ceil(math.sqrt(n_sites)))
    base_lon = 8.0 + (site % side) * 0.015
    base_lat = 46.0 + (site // side) * 0.01
    lens = rng.integers(2, max_len + 1, n)
    geoms = []
    for j in range(n):
        step = np.arange(lens[j]) * 1e-4
        lon = base_lon[j] + step + rng.normal(0.0, 3e-4, lens[j])
        lat = base_lat[j] + rng.normal(0.0, 3e-4, lens[j])
        geoms.append([{"lon": float(x), "lat": float(y)} for x, y in zip(lon, lat)])
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64), "site": site, "geom": geoms})
