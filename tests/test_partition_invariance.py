"""Results must not depend on the shuffle-partition count.

``get_spark`` sizes ``spark.sql.shuffle.partitions`` from the session's
cores, so the same job sees a different count on every host. These
tests pin that the count changes only the speed:

* the batch chain ``generate_staypoints -> generate_triplegs ->
  generate_trips -> generate_tours -> generate_locations`` plus a keyed
  and a key-less ``asof_join`` return identical rows at 1, 4 and 32
  shuffle partitions;
* the stateful streams ``staypoints_stream_exact`` and
  ``trips_stream_exact`` return identical rows at 2 and 8 state
  partitions over the same file micro-batches.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from test_streaming_restart import _add_files, _run_once
from test_streaming_trips import PARAMS as TRIP_PARAMS
from test_streaming_trips import _mk_rows, _pfs_df
from tests.conftest import shuffle_partitions
from trackintel_spark.analysis import create_activity_flag
from trackintel_spark.operators import (
    generate_locations,
    generate_staypoints,
    generate_tours,
    generate_trips,
    generate_triplegs,
)
from trackintel_spark.operators.asof import asof_join
from trackintel_spark.streaming import staypoints_stream_exact, trips_stream_exact

SP_PARAMS = {k: TRIP_PARAMS[k] for k in ("dist_threshold", "time_threshold", "gap_threshold")}


def sorted_rows(df) -> list[str]:
    """Order-independent, hashable image of a DataFrame's rows."""
    return sorted(repr(r) for r in df.collect())


def _commute_rows(n_users: int = 2, loops: int = 2):
    """Home -> work -> home loops: 20-fix dwells (19 min, an activity)
    joined by 5-fix legs ~400 m a step, so each loop closes a tour.
    Ends on a home dwell and a far fix so the last trip closes."""
    home, work = (8.50, 47.40), (8.53, 47.41)
    rows, i = [], 0
    for u in range(n_users):
        t = 0
        for _ in range(loops):
            for (lon, lat), (lon1, lat1) in ((home, work), (work, home)):
                for k in range(20):
                    rows.append((i, u, t, lon + k * 1e-7 + u * 1e-6, lat)); i += 1; t += 60
                for k in range(1, 6):
                    f = k / 6
                    rows.append((i, u, t, lon + (lon1 - lon) * f, lat + (lat1 - lat) * f)); i += 1; t += 60
        for k in range(20):
            rows.append((i, u, t, home[0] + k * 1e-7, home[1])); i += 1; t += 60
        rows.append((i, u, t, 8.9, 47.9)); i += 1
    return rows


def _batch_chain(spark, rows) -> dict[str, list[str]]:
    """Every entity of the chain and two as-of joins, as sorted rows.
    Inputs to later stages are checkpointed so each stage runs once."""

    def stage(frames):
        return [df.localCheckpoint() for df in frames]

    pfs = _pfs_df(spark, rows).select("id", "user_id", "tracked_at", F.struct("lon", "lat").alias("geom"))
    pfs_sp, sp = stage(generate_staypoints(pfs, **SP_PARAMS))
    pfs_tpl, tpls = stage(generate_triplegs(pfs_sp, gap_threshold=TRIP_PARAMS["gap_threshold"]))
    sp = create_activity_flag(sp, time_threshold=TRIP_PARAMS["activity_threshold"])
    sp_trips, tpls_trips, trips = stage(generate_trips(sp, tpls, gap_threshold=TRIP_PARAMS["gap_threshold"]))
    trips_tours, tours = generate_tours(trips, max_dist=300.0)
    sp_locs, locs = generate_locations(sp_trips, epsilon=200.0)
    fixes = pfs.select("user_id", "id", F.unix_seconds("tracked_at").cast("double").alias("t"))
    starts = sp.select("user_id", F.col("id").alias("sp_id"), F.unix_seconds("started_at").cast("double").alias("t"))
    frames = {
        "pfs": pfs_tpl,
        "staypoints": sp_trips,
        "triplegs": tpls_trips,
        "trips": trips_tours,
        "tours": tours,
        "staypoints_locations": sp_locs,
        "locations": locs,
        "asof_by_user": asof_join(fixes, starts, on="t", by="user_id"),
        "asof_keyless": asof_join(fixes.drop("user_id"), starts, on="t", direction="nearest"),
    }
    return {name: sorted_rows(df) for name, df in frames.items()}


def test_batch_chain_and_asof_are_partition_count_invariant(spark):
    rows = _commute_rows()
    got = {}
    for n in (1, 4, 32):
        with shuffle_partitions(spark, n):
            got[n] = _batch_chain(spark, rows)
    for name, ref in got[4].items():
        assert ref, f"{name}: empty, the comparison would be vacuous"
        assert got[1][name] == ref, f"{name}: 1 vs 4 shuffle partitions"
        assert got[32][name] == ref, f"{name}: 32 vs 4 shuffle partitions"
    assert len(got[4]["trips"]) == 8
    assert len(got[4]["tours"]) == 6  # per user: H-W-H, W-H-W, H-W-H


def test_stateful_streams_are_state_partition_count_invariant(spark, tmp_path):
    rows = _mk_rows(n_users=3)
    cut1, cut2 = len(rows) // 3 + 5, 2 * len(rows) // 3 + 11
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    _add_files(spark, src, [rows[:cut1], rows[cut1:cut2], rows[cut2:]])
    for op, params in ((staypoints_stream_exact, SP_PARAMS), (trips_stream_exact, TRIP_PARAMS)):
        got = {}
        for n in (2, 8):
            run = os.path.join(tmp, f"{op.__name__}_{n}")
            with shuffle_partitions(spark, n):
                rows_out = _run_once(
                    spark, src, os.path.join(run, "out"), os.path.join(run, "ckpt"), op=partial(op, **params)
                )
            got[n] = sorted(map(repr, rows_out))
        assert len(got[8]) > 10, op.__name__
        assert got[2] == got[8], op.__name__
