"""Checkpoint-restart durability for the stateful streaming chain.

A production streaming job stops (deploy, crash, rescale) and restarts
from its ``checkpointLocation``; Structured Streaming restores the
state store and the file-source progress log. These tests pin that the
exact mobility kernels survive that cycle:

* the open candidate-window state (declared ``_STATE_SCHEMA`` arrays)
  is restored, so a dwell SPANNING the restart is emitted correctly by
  the second run — impossible without state restore;
* the parquet sink + checkpoint pair stays exactly-once — no row is
  duplicated or lost across the restart (file source replays nothing);
* the reorder buffer's pickled pandas frame (an opaque BinaryType
  state column, streaming/reorder.py:37) round-trips through the
  HDFS-backed state store checkpoint, not just process memory;
* a query keeps the state-partition count it started with: a restart
  in a session that now sizes shuffles differently re-applies the
  count recorded in the checkpoint's offset log.

The reference is batch-only (reference trackintel
preprocessing/positionfixes.py:243 sorts full history up front), so
this is an extension surface: correctness is defined as stream-union-
across-restarts == one batch run over the full history.
"""

from __future__ import annotations

import json
import os
import time
from functools import partial

from pyspark.sql import functions as F

from test_streaming_reorder import SP_D, SP_DISORDER_MIN, SP_PARAMS, _jittered_chunks, _mk_pfs_rows
from test_streaming_trips import PARAMS as TRIP_PARAMS
from test_streaming_trips import _mk_rows as _mk_trip_rows
from tests.conftest import shuffle_partitions
from trackintel_spark.operators import generate_staypoints
from trackintel_spark.streaming import staypoints_stream_exact, trips_stream_exact

BASE = 1700000000


def _pfs_df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, user_id long, sec long, lon double, lat double"
    ).select(
        "id", "user_id",
        F.timestamp_seconds(F.col("sec") + BASE).alias("tracked_at"), "lon", "lat",
    )


def _batch_expected(spark, rows):
    pfs = _pfs_df(spark, rows).select(
        "id", "user_id", "tracked_at", F.struct("lon", "lat").alias("geom")
    )
    _, sp = generate_staypoints(pfs, **SP_PARAMS)
    return {
        (r.user_id, r.started_at, r.finished_at, round(r.geom.lon, 9), round(r.geom.lat, 9))
        for r in sp.collect()
    }


def _add_files(spark, src, chunks, start_idx=0):
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate(chunks, start=start_idx):
        d = os.path.join(src, f"f{i}")
        _pfs_df(spark, chunk).coalesce(1).write.mode("overwrite").parquet(d)
        now = time.time() + i  # file-source ordering follows mtime
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now, now))


def _run_once(spark, src, out, ckpt, op=partial(staypoints_stream_exact, **SP_PARAMS), **op_kwargs):
    """One availableNow pass of the ``op`` stream (default: staypoints)
    into a parquet sink, restarting from ``ckpt`` if it exists. Returns
    the sink rows."""
    schema = "id long, user_id long, tracked_at timestamp, lon double, lat double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        op(stream, **op_kwargs)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    return spark.read.parquet(out).collect()


def _key_set(rows):
    return {
        (r.user_id, r.started_at, r.finished_at, round(r.lon, 9), round(r.lat, 9)) for r in rows
    }


def test_staypoints_restart_restores_state_exactly_once(spark, tmp_path):
    rows = _mk_pfs_rows(n_users=3, per_user=80)
    # cut mid-dwell: per_user=80 with a spot change every 10 fixes; index
    # 45 of user 1 sits inside a dwell, so the open candidate window at
    # the end of run 1 must survive the restart to close correctly.
    per_user_cut = 45
    first = [r for r in rows if r[1] == 0] + [r for r in rows if r[1] > 0][: per_user_cut]
    first_ids = {r[0] for r in first}
    rest = [r for r in rows if r[0] not in first_ids]
    cut_time = min(r[2] for r in rest if r[1] == 1)

    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    # run 1: two micro-batches over the first tranche, then STOP
    half = len(first) // 2
    _add_files(spark, src, [first[:half], first[half:]], start_idx=0)
    got1 = _key_set(_run_once(spark, src, out, ckpt))
    expected = _batch_expected(spark, rows)
    assert got1 < expected  # partial, and nothing wrong emitted early

    # run 2: new files arrive, FRESH query object, SAME checkpoint
    _add_files(spark, src, [rest], start_idx=2)
    final = _run_once(spark, src, out, ckpt)

    # exactly-once: no physical duplicates in the sink across restarts
    assert len(final) == len(_key_set(final))
    assert _key_set(final) == expected
    # the restart-spanning dwell was closed by run 2 from restored state
    spanning = [
        r for r in final
        if r.user_id == 1
        and r.started_at.timestamp() - BASE < cut_time <= r.finished_at.timestamp() - BASE
    ]
    assert spanning, "no staypoint spans the restart boundary — state not restored"
    assert len(final) > 10  # non-vacuous


def test_reorder_buffer_pickle_survives_restart(spark, tmp_path):
    """Restart while the hold-and-sort buffer is non-empty: the pickled
    pending-rows frame must round-trip through the checkpoint."""
    rows = _mk_pfs_rows(n_users=2, per_user=60)
    chunks = _jittered_chunks(rows, SP_D, n_chunks=4, seed=7)

    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    kw = dict(max_disorder=SP_DISORDER_MIN, late="raise")
    # run 1 ends mid-stream: the buffer holds every event within
    # SP_D of each user's high-water mark — guaranteed non-empty.
    _add_files(spark, src, chunks[:2], start_idx=0)
    _run_once(spark, src, out, ckpt, **kw)

    _add_files(spark, src, chunks[2:], start_idx=2)
    final = _run_once(spark, src, out, ckpt, **kw)

    assert len(final) == len(_key_set(final))  # exactly-once
    # flush fixes (see _mk_pfs_rows) make the tail comparable
    assert _key_set(final) == _batch_expected(spark, rows)
    assert len(final) > 5


def _recorded_state_partitions(ckpt):
    """State-partition count in the latest offset-log entry: line 2 of
    ``offsets/<batch>`` is the JSON batch metadata with the SQL confs
    the query pinned at its first start."""
    offsets = os.path.join(ckpt, "offsets")
    last = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, last)) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _state_store_partitions(ckpt):
    """Partition directories per stateful operator (``state/<op>/<part>``)."""
    state = os.path.join(ckpt, "state")
    return {
        op: sum(d.isdigit() for d in os.listdir(os.path.join(state, op)))
        for op in os.listdir(state)
    }


def test_restart_keeps_checkpointed_state_partition_count(spark, tmp_path):
    """Start trips_stream_exact at 8 state partitions, stop it
    mid-stream, resume from the checkpoint in a session whose conf now
    says 2: the query resumes at 8 and its output equals one
    uninterrupted run."""
    rows = _mk_trip_rows(n_users=3)
    cut1, cut2 = len(rows) // 3 + 5, 2 * len(rows) // 3 + 11
    chunks = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
    trips = partial(trips_stream_exact, **TRIP_PARAMS)
    tmp = str(tmp_path)

    _add_files(spark, os.path.join(tmp, "src_full"), chunks)
    expected = sorted(map(repr, _run_once(
        spark, os.path.join(tmp, "src_full"), os.path.join(tmp, "out_full"),
        os.path.join(tmp, "ckpt_full"), op=trips,
    )))

    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    _add_files(spark, src, chunks[:2])
    with shuffle_partitions(spark, 8):
        first = _run_once(spark, src, out, ckpt, op=trips)
    assert 0 < len(first) < len(expected)
    assert _recorded_state_partitions(ckpt) == 8

    _add_files(spark, src, chunks[2:], start_idx=2)
    with shuffle_partitions(spark, 2):
        final = _run_once(spark, src, out, ckpt, op=trips)
    assert _recorded_state_partitions(ckpt) == 8
    per_op = _state_store_partitions(ckpt)
    assert per_op and set(per_op.values()) == {8}, per_op
    assert sorted(map(repr, final)) == expected
    assert len(expected) > 10
