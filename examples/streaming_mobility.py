"""Streaming mobility pipeline example: the EXACT stateful chain
(staypoints, triplegs, trips) over a positionfix file stream.

Simulates a live tracker: the driver testdata events are written out
as three parquet "arrival" chunks, then each stateful operator
consumes them as a file stream with availableNow triggers — state
spans the micro-batches, results equal the batch operators on the same
history (the contract pinned by tests/test_streaming_*.py).

    python examples/streaming_mobility.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trackintel_spark import get_spark
from trackintel_spark.sources import load_table
from trackintel_spark.streaming import (
    staypoints_stream_exact,
    tours_stream_exact,
    triplegs_stream_exact,
    trips_stream_exact,
)

PARAMS = dict(dist_threshold=200, time_threshold=5, gap_threshold=120)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="streaming_mobility")
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_table(spark, sf_dir, "events")
    pfs = ev.select(
        F.col("event_id").alias("id"),
        "user_id",
        F.col("ts").alias("tracked_at"),
        (8.5 + (F.col("value") % 3).cast("int") * 0.05).alias("lon"),
        (47.4 + (F.col("value") % 2).cast("int") * 0.05).alias("lat"),
    ).orderBy("tracked_at")

    work = tempfile.mkdtemp(prefix="stream_mobility_")
    try:
        # stage the stream: three arrival chunks in mtime order
        rows = pfs.collect()
        cuts = [len(rows) // 3, 2 * len(rows) // 3, len(rows)]
        src = os.path.join(work, "src")
        os.makedirs(src)
        lo = 0
        for i, hi in enumerate(cuts):
            spark.createDataFrame(rows[lo:hi], pfs.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, f"chunk{i}"))
            now = time.time() + i
            d = os.path.join(src, f"chunk{i}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now, now))
            lo = hi
        print(f"staged {len(rows)} fixes as {len(cuts)} arrival chunks")

        def run(op, name, **kw):
            stream = (
                spark.readStream.schema(pfs.schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            q = (
                op(stream, **kw)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return spark.sql(f"SELECT * FROM {name}")

        sp = run(staypoints_stream_exact, "sp_stream", **PARAMS)
        print(f"streaming staypoints emitted: {sp.count()}")

        # ---- locations: online assignment against batch-trained centers --
        # Train locations in BATCH over the emitted staypoint history (the
        # nightly-retrain pattern), then assign the same staypoints ONLINE:
        # nearest trained center within eps via the stream-static grid
        # join; unseen places open negative-id locations statefully.
        from trackintel_spark.operators import generate_locations
        from trackintel_spark.streaming import locations_stream_exact

        sp_hist = (
            sp.withColumn("id", F.monotonically_increasing_id())
            .withColumn("geom", F.struct("lon", "lat"))
            .select("id", "user_id", "started_at", "finished_at", "geom")
        )
        # localCheckpoint: the trained table must be a MATERIALIZED static
        # side — its lazy plan contains monotonically_increasing_id (from
        # the history ids), which streaming queries reject in-plan
        _, locs = generate_locations(sp_hist, epsilon=150, num_samples=1)
        locs = locs.localCheckpoint()
        lsrc = os.path.join(work, "sp_src")
        os.makedirs(lsrc)
        sp_hist.coalesce(1).write.parquet(os.path.join(lsrc, "chunk0"))
        lstream = (
            spark.readStream.schema(sp_hist.schema)
            .option("recursiveFileLookup", "true")
            .parquet(lsrc)
        )
        lq = (
            locations_stream_exact(lstream, locs, epsilon_m=150.0)
            .writeStream.format("memory").queryName("loc_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        lq.awaitTermination(180)
        assigned = spark.sql("SELECT * FROM loc_stream")
        n_tr = assigned.filter("location_id >= 0").count()
        n_new = assigned.filter("location_id < 0").count()
        print(f"streaming locations assigned: {n_tr} to trained centers, {n_new} opened online")

        tpl = run(triplegs_stream_exact, "tpl_stream", **PARAMS)
        print(f"streaming triplegs emitted:  {tpl.count()}")

        # ---- online route matching: arriving triplegs vs known routes ----
        # Index the even-id triplegs as the "known route"
        # corpus (in production: yesterday's warehouse), then match the
        # rest against it within 500 m discrete-Frechet — stateless
        # stream-side (one cell per arrival into a stream-static join).
        from trackintel_spark.sources import wkt as _wkt
        from trackintel_spark.streaming import (
            index_trajectory_corpus,
            trajectory_match_stream,
        )

        routes = (
            tpl.withColumn("geom", _wkt.parse_wkt_linestring(F.col("geom_wkt")))
            .withColumn("id", F.monotonically_increasing_id())
            .select("id", "geom")
            .persist()
        )
        corpus = routes.filter(F.col("id") % 2 == 0)
        probes = routes.filter(F.col("id") % 2 == 1)
        cells, arrays = index_trajectory_corpus(corpus, 500.0)
        matches = trajectory_match_stream(
            probes, cells.persist(), arrays.persist(), 500.0, metric="frechet"
        )
        print(
            f"online route matches (<=500m frechet): {matches.count()} "
            f"across {probes.count()} probes vs {corpus.count()} known routes"
        )
        trips = run(trips_stream_exact, "trip_stream", activity_threshold=15, **PARAMS)
        n_trips = trips.count()
        nulls = trips.filter("destination_started_at is null").count()
        print(f"streaming trips emitted:     {n_trips} ({nulls} gap-terminated)")
        trips.orderBy("user_id", "started_at").show(5)

        # ---- tours: close the chain online --------------------------------
        # The trips stage emits timestamp-keyed trips without location ids
        # (streams cannot assign the batch dense ids); the tours stage
        # consumes id-keyed trips. Stage an id-keyed trips stream (as a
        # batch pipeline would persist it) and run the stateful tour scan
        # over it in max_dist mode — tours emit the moment their closing
        # trip arrives, state spans the arrival chunks.
        tr = (
            trips.orderBy("user_id", "started_at")
            .withColumn("id", F.monotonically_increasing_id())
            .withColumn(
                "geom",
                F.struct(
                    F.struct(F.lit(8.5).alias("lon"), F.lit(47.4).alias("lat")).alias("origin"),
                    F.struct(
                        (8.5 + F.pmod(F.minute("finished_at").cast("long"), F.lit(2)) * 0.05).alias("lon"),
                        F.lit(47.4).alias("lat"),
                    ).alias("dest"),
                ),
            )
            .withColumn("origin_staypoint_id", F.col("id"))
            .withColumn("destination_staypoint_id", F.col("id"))
            .select("id", "user_id", "started_at", "finished_at",
                    "origin_staypoint_id", "destination_staypoint_id", "geom")
        )
        tsrc = os.path.join(work, "trips_src")
        os.makedirs(tsrc)
        trows = tr.collect()
        tcuts = [len(trows) // 2, len(trows)]
        lo = 0
        for i, hi in enumerate(tcuts):
            spark.createDataFrame(trows[lo:hi], tr.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(tsrc, f"chunk{i}"))
            now = time.time() + 10 + i
            d = os.path.join(tsrc, f"chunk{i}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now, now))
            lo = hi
        tstream = (
            spark.readStream.schema(tr.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(tsrc)
        )
        tq = (
            tours_stream_exact(tstream, max_dist=150.0, max_time=24 * 60)
            .writeStream.format("memory").queryName("tour_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        tq.awaitTermination(180)
        tours = spark.sql("SELECT * FROM tour_stream")
        print(f"streaming tours emitted:     {tours.count()}")
        tours.orderBy("user_id", "seq").show(5)

        # ---- bounded-disorder ingest: real phones jitter ------------------
        # Replay the SAME positionfixes with each fix's arrival jittered by
        # up to 4 minutes (shuffled across micro-batch files) and opt into
        # the hold-and-sort buffer: rows wait in state until the per-user
        # event-time high-water mark is max_disorder past them, then enter
        # the exact kernel in order. Results equal the in-order run for any
        # within-bound jitter; an arrival beyond the bound raises (or set
        # late='drop' for the watermark convention).
        import random

        rng = random.Random(42)
        jit = sorted(rows, key=lambda r: r.tracked_at.timestamp() + rng.uniform(0, 220))
        jsrc = os.path.join(work, "jittered_src")
        os.makedirs(jsrc)
        step = (len(jit) + 3) // 4
        for i in range(4):
            spark.createDataFrame(jit[i * step:(i + 1) * step], pfs.schema).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(jsrc, f"chunk{i}"))
            now = time.time() + 20 + i
            d = os.path.join(jsrc, f"chunk{i}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now, now))
        jstream = (
            spark.readStream.schema(pfs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(jsrc)
        )
        jq = (
            staypoints_stream_exact(jstream, max_disorder=4.0, **PARAMS)
            .writeStream.format("memory").queryName("sp_reordered")
            .outputMode("append").trigger(availableNow=True).start()
        )
        jq.awaitTermination(180)
        n_reordered = spark.sql("SELECT * FROM sp_reordered").count()
        n_ordered = spark.sql("SELECT * FROM sp_stream").count()
        print(
            f"bounded-disorder replay:     {n_reordered} staypoints from the "
            f"jittered stream (in-order run emitted {n_ordered}; the tail "
            "difference is rows still inside the reorder buffer at stream end)"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
