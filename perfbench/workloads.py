"""The benchmark workloads. Each drives trackintel_spark only through its
public functions and is a closed loop: one client, one iteration at a
time, the next iteration starts when the previous result is materialised.

A workload generates its inputs from the seed (``prepare``), reads them
through ``trackintel_spark.sources`` (``load``), runs one iteration
(``iterate``, which returns the digests of its outputs) and checks those
digests (``check``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import inputs

DEFAULT_SEED = 1


def digest(df, **extra) -> dict:
    """Row count plus an order-independent content hash, in one action
    that computes every column: doubles are rounded to 1e-5, arrays
    contribute their length. ``extra`` names further aggregate columns
    computed in the same action."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.DoubleType):
            cols.append(F.round(c, 5))
        elif isinstance(f.dataType, T.StructType):
            cols.extend(
                F.round(c[g.name], 5) if isinstance(g.dataType, T.DoubleType) else c[g.name]
                for g in f.dataType.fields
            )
        elif isinstance(f.dataType, (T.ArrayType, T.MapType)):
            cols.append(F.size(c))
        else:
            cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        *(c.alias(k) for k, c in extra.items()),
    ).first()
    return {"rows": int(row["n"]), "hash": str(row["h"] or 0), **{k: row[k] for k in extra}}


def _release_checkpoint(df) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed frame, so that only
    what the library itself keeps stays registered."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)


class Workload:
    input_rows = 0

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.workdir, self.seed = spark, tracer, workdir, seed
        self.last_stream: dict = {}  # StreamingQueryProgress figures of the last replay
        self.last_pairs = 0  # join pairs of the last iteration

    def call(self, name: str, it: int, fn, *args, **kwargs):
        with self.tr.span(name, it):
            return fn(*args, **kwargs)

    def action(self, name: str, it: int, fn):
        with self.tr.span(name, it):
            return fn()

    def load(self) -> float:
        """Seconds spent reading the generated input through trackintel_spark.sources."""
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def iterate(self, it: int) -> dict:
        raise NotImplementedError

    def can_iterate(self) -> bool:
        """False once no input is left for another iteration."""
        return True

    def check(self, digests: dict, golden: dict | None) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        pass


def _check_golden(digests: dict, golden: dict | None) -> list[str]:
    if golden is None:
        return []
    return [
        f"{k}: {digests.get(k)} != golden {v}" for k, v in sorted(golden.items()) if digests.get(k) != v
    ]


class Chain(Workload):
    """positionfixes -> staypoints -> triplegs -> activity flag -> trips ->
    tours -> locations, plus tracking quality and a Fréchet similarity
    self-join of the triplegs (tau = 150 m), which finds each user's
    repeated legs. Each entity is materialised (``localCheckpoint``)
    before the stage that consumes it; every iteration moves
    ``dist_threshold`` one step through a fixed sweep."""

    SWEEP_M = (50.0, 100.0, 150.0, 200.0, 250.0, 300.0)
    TAU_M = 150.0

    def __init__(self, spark, tracer, workdir, seed, n_users, pfs_per_user):
        super().__init__(spark, tracer, workdir, seed)
        self.n_users, self.pfs_per_user = n_users, pfs_per_user
        self.input_rows = n_users * pfs_per_user
        self.pfs = None
        self._first: dict | None = None

    def prepare(self) -> None:
        pdf = inputs.mobility_pfs(self.seed, self.n_users, self.pfs_per_user)
        pdf = pdf.rename(columns={"id": "event_id", "tracked_at": "ts"})
        os.makedirs(self.workdir, exist_ok=True)
        pdf.to_parquet(os.path.join(self.workdir, "events.parquet"), index=False)

    def load(self) -> float:
        from trackintel_spark.sources import load_table

        if self.pfs is not None:
            self.pfs.unpersist(True)
        t = time.perf_counter()
        with self.tr.span("sources.load_table", -1):
            ev = load_table(self.spark, self.workdir, "events")
            self.pfs = ev.select(
                F.col("event_id").alias("id"),
                "user_id",
                F.col("ts").alias("tracked_at"),
                F.struct("lon", "lat").alias("geom"),
            ).persist()
            self.pfs.count()
        return time.perf_counter() - t

    def iterate(self, it: int):
        from trackintel_spark.analysis import create_activity_flag, temporal_tracking_quality
        from trackintel_spark.geogr import trajectory_similarity_join
        from trackintel_spark.operators import (
            generate_locations,
            generate_staypoints,
            generate_tours,
            generate_triplegs,
            generate_trips,
        )

        d = self.SWEEP_M[it % len(self.SWEEP_M)]
        held = []

        def mat(name, *dfs):
            out = self.action(f"materialize.{name}", it, lambda: [x.localCheckpoint() for x in dfs])
            held.extend(out)
            return out

        try:
            pfs_sp, sp = mat("staypoints", *self.call(
                "operators.staypoints", it, generate_staypoints,
                self.pfs, dist_threshold=d, time_threshold=5, gap_threshold=1440,
            ))
            (tpls,) = mat("triplegs", self.call(
                "operators.triplegs", it, generate_triplegs, pfs_sp, sp, gap_threshold=1440,
            )[1])
            sp = self.call("analysis.create_activity_flag", it, create_activity_flag, sp, time_threshold=15)
            sp, _, trips = self.call("operators.trips", it, generate_trips, sp, tpls, gap_threshold=1440)
            sp, trips = mat("trips", sp, trips)
            tours = self.call("operators.tours", it, generate_tours, trips, max_time=1440)[1]
            locs = self.call("operators.locations", it, generate_locations, sp, epsilon=100, num_samples=1)[1]
            quality = self.call(
                "analysis.temporal_tracking_quality", it, temporal_tracking_quality, sp, "all"
            )
            pairs = self.call("geogr.join", it, trajectory_similarity_join, tpls, self.TAU_M, metric="frechet")
            outs = {
                "staypoints": sp, "triplegs": tpls, "trips": trips,
                "tours": tours, "locations": locs, "tracking_quality": quality,
            }
            digests = {k: self.action(f"result.{k}", it, lambda v=v: digest(v)) for k, v in outs.items()}
            digests.update(self.action("geogr.join.action", it, lambda: _join_digest(pairs)))
            self.last_pairs = digests["pairs"]["rows"]
        finally:
            for df in held:
                _release_checkpoint(df)
        return digests

    def check(self, digests, golden):
        exp = inputs.expected_chain_counts(self.n_users, self.pfs_per_user)
        exp["tracking_quality"] = exp["users"]
        bad = [
            f"{k}: {digests[k]['rows']} rows, expected {exp[k]}"
            for k in ("staypoints", "triplegs", "trips", "tours", "locations", "tracking_quality")
            if digests[k]["rows"] != exp[k]
        ]
        # every repeated leg of a user pairs with its earlier run; legs of
        # different users pair only where two homes happen to lie close
        bad += _check_pairs(digests, exp["repeated_leg_pairs"], None, self.TAU_M)
        # the sweep stays below the 375 m travel spacing and above the
        # GPS noise, so every threshold must give the same entities
        if self._first is None:
            self._first = digests
        elif digests != self._first:
            bad.append("outputs changed across the dist_threshold sweep")
        return bad + _check_golden(digests, golden)

    def close(self) -> None:
        if self.pfs is not None:
            self.pfs.unpersist(True)


class StreamReplay(Workload):
    """``trips_stream_exact`` as a scheduled incremental job: time-ordered
    micro-batches arrive one at a time as parquet files, and each
    ``availableNow`` run of the query processes the newest one, restoring
    open staypoints and trips from the state store of the previous run.
    Every user advances in every micro-batch. The warm-up is the first
    run; each iteration is the run over the next batch."""

    def __init__(self, spark, tracer, workdir, seed, n_users, pfs_per_user, n_batches):
        super().__init__(spark, tracer, workdir, seed)
        self.n_users, self.pfs_per_user, self.n_batches = n_users, pfs_per_user, n_batches
        self.step = -(-pfs_per_user // n_batches)  # pfs per user in one micro-batch
        self.input_rows = n_users * self.step
        self.staged = os.path.join(workdir, "staged.parquet")
        self.src = os.path.join(workdir, "events.parquet")
        self.ckpt = os.path.join(workdir, "checkpoint")
        self.arrived = 0  # micro-batches moved into the source directory

    def prepare(self) -> None:
        pdf = inputs.mobility_pfs(self.seed, self.n_users, self.pfs_per_user)
        pdf["tracked_at"] = pdf["tracked_at"].dt.tz_localize("UTC")
        shutil.rmtree(self.staged, ignore_errors=True)
        os.makedirs(self.staged)
        pos = pdf["id"].to_numpy() % self.pfs_per_user
        for k in range(self.n_batches):
            part = pdf[(pos >= k * self.step) & (pos < (k + 1) * self.step)]
            path = os.path.join(self.staged, f"b{k:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path, coerce_timestamps="us")

    def load(self) -> float:
        # the stream reads the files itself; time a batch read of the same
        # files through the sources layer so setup stays comparable
        from trackintel_spark.sources import load_table

        t = time.perf_counter()
        with self.tr.span("sources.load_table", -1):
            load_table(self.spark, self.workdir, "staged").count()
        return time.perf_counter() - t

    def can_iterate(self) -> bool:
        return self.arrived < self.n_batches

    def iterate(self, it: int):
        from trackintel_spark.streaming import trips_stream_exact

        if self.arrived == 0:
            for d in (self.src, self.ckpt):
                shutil.rmtree(d, ignore_errors=True)
            os.makedirs(self.src)
        k = self.arrived
        os.rename(os.path.join(self.staged, f"b{k:03d}.parquet"), os.path.join(self.src, f"b{k:03d}.parquet"))
        self.arrived += 1
        stream = (
            self.spark.readStream.schema("id long, user_id long, tracked_at timestamp, lon double, lat double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        out = self.call(
            "streaming.trips_stream_exact", it, trips_stream_exact,
            stream, dist_threshold=100, time_threshold=5, gap_threshold=1440, activity_threshold=15,
        )
        emitted = []
        with self.tr.span("streaming.replay", it) as span:
            # the memory sink cannot resume from a checkpoint; the sink here
            # digests each micro-batch's output in one action
            q = (
                out.writeStream.foreachBatch(lambda df, _: emitted.append(digest(df))).outputMode("append")
                .option("checkpointLocation", self.ckpt).trigger(availableNow=True).start()
            )
            if span is not None:  # the query tags its jobs with its run id
                span["groups"] = [str(q.runId)]
            q.awaitTermination()
        self.last_stream = _stream_layers(q.recentProgress)
        return {"trips": emitted[-1] if emitted else {"rows": 0, "hash": "0"}}

    def check(self, digests, golden):
        """The run over batch k emits the trips that close within it: those
        closed in the first k + 1 batches less those closed in the first k."""
        k = self.arrived - 1

        def closed(n_batches):
            pfs = min(self.pfs_per_user, n_batches * self.step)
            return inputs.expected_chain_counts(self.n_users, pfs)["closed_trips"]

        exp = closed(k + 1) - closed(k)
        bad = []
        if digests["trips"]["rows"] != exp:
            bad.append(f"trips of micro-batch {k}: {digests['trips']['rows']} rows, expected {exp}")
        if self.last_stream.get("batches") != 1:
            bad.append(f"{self.last_stream.get('batches')} micro-batches in one run, expected 1")
        # the golden digests are those of the first measured run, over batch 1
        return bad + (_check_golden(digests, golden) if k == 1 else [])


def _stream_layers(progress: list[dict]) -> dict:
    out = {
        "batches": len(progress),
        "trigger_s": [p.get("durationMs", {}).get("triggerExecution", 0) / 1e3 for p in progress],
        "add_batch_ms": 0.0, "query_planning_ms": 0.0, "wal_commit_ms": 0.0, "commit_ms": 0.0,
        "state_commit_ms": 0.0, "state_rows": 0.0, "state_mb": 0.0,
    }
    for p in progress:
        dur = p.get("durationMs", {})
        out["add_batch_ms"] += dur.get("addBatch", 0)
        out["query_planning_ms"] += dur.get("queryPlanning", 0)
        out["wal_commit_ms"] += dur.get("walCommit", 0)
        out["commit_ms"] += dur.get("commitOffsets", 0)
        for so in p.get("stateOperators", []):
            out["state_commit_ms"] += so.get("commitTimeMs", 0)
            out["state_rows"] = max(out["state_rows"], so.get("numRowsTotal", 0))
            out["state_mb"] = max(out["state_mb"], so.get("memoryUsedBytes", 0) / 2**20)
    return out


class TrajJoin(Workload):
    """Discrete-Fréchet similarity self-join (tau = 150 m) of short
    synthetic trajectories grouped around anchor sites."""

    TAU_M = 150.0

    def __init__(self, spark, tracer, workdir, seed, n, n_sites):
        super().__init__(spark, tracer, workdir, seed)
        self.n, self.n_sites = n, n_sites
        self.input_rows = n
        self.traj = None
        self._first: dict | None = None

    def prepare(self) -> None:
        pdf = inputs.trajectories(self.seed, self.n, self.n_sites)
        # sites lie 1.1 km apart, so only trajectories of one site can pair
        per_site = np.bincount(pdf["site"].to_numpy())
        self.max_pairs = int((per_site * (per_site - 1) // 2).sum())
        os.makedirs(self.workdir, exist_ok=True)
        geom = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
        table = pa.table({"id": pa.array(pdf["id"]), "geom": pa.array(list(pdf["geom"]), type=geom)})
        pq.write_table(table, os.path.join(self.workdir, "trajectories.parquet"))

    def load(self) -> float:
        from trackintel_spark.sources import load_table

        if self.traj is not None:
            self.traj.unpersist(True)
        t = time.perf_counter()
        with self.tr.span("sources.load_table", -1):
            self.traj = load_table(self.spark, self.workdir, "trajectories").persist()
            self.traj.count()
        return time.perf_counter() - t

    def iterate(self, it: int):
        from trackintel_spark.geogr import trajectory_similarity_join

        pairs = self.call("geogr.join", it, trajectory_similarity_join, self.traj, self.TAU_M, metric="frechet")

        digests = self.action("geogr.join.action", it, lambda: _join_digest(pairs))
        self.last_pairs = digests["pairs"]["rows"]
        return digests

    def check(self, digests, golden):
        bad = _check_pairs(digests, 1, self.max_pairs, self.TAU_M)
        if self._first is None:
            self._first = digests
        elif digests != self._first:
            bad.append("repeated joins disagree")
        return bad + _check_golden(digests, golden)

    def close(self) -> None:
        if self.traj is not None:
            self.traj.unpersist(True)


def _join_digest(pairs) -> dict:
    """Digest of the join's (id_a, id_b, dist_m) pairs, plus their largest
    distance and whether every pair is ordered id_a < id_b."""
    res = digest(pairs, dmax=F.max("dist_m"), gap=F.min(F.col("id_b") - F.col("id_a")))
    bounds = {"dist_m_max": res.pop("dmax") or 0.0, "ordered": (res.pop("gap") or 1) > 0}
    return {"pairs": res, "pair_bounds": bounds}


def _check_pairs(digests: dict, lo: int, hi: int | None, tau_m: float) -> list[str]:
    n, bounds = digests["pairs"]["rows"], digests["pair_bounds"]
    bad = []
    if n < lo or (hi is not None and n > hi):
        bad.append(f"{n} pairs, expected {lo}..{'' if hi is None else hi}")
    if bounds["dist_m_max"] > tau_m:
        bad.append(f"a pair is farther apart than tau = {tau_m} m")
    if not bounds["ordered"]:
        bad.append("a pair with id_a >= id_b")
    return bad


WORKLOADS = {
    # driver-bound: a small sample, the analyst's dist_threshold sweep; 104
    # pfs per user is the shortest history in which a closed leg repeats
    "interactive_sf01": lambda s, t, w, seed: Chain(s, t, w, seed, n_users=100, pfs_per_user=104),
    "stream_replay": lambda s, t, w, seed: StreamReplay(s, t, w, seed, n_users=40, pfs_per_user=300, n_batches=6),
    "traj_join": lambda s, t, w, seed: TrajJoin(s, t, w, seed, n=10_000, n_sites=2_000),
}
