"""Served heatmap tiles: batch rollup + streaming deltas, one identity.

The serving story the rollup family exists for:

1. ``grid_rollup(history, emit_state=True)`` builds the historical
   tile table — every zoom level from ONE scan of the points, each
   tile carrying its mergeable state (count, coordinate sums, HLL
   user-sketch bytes);
2. a live ``grid_counts_stream`` query emits per-(window, cell) rows
   as fixes arrive — including the sketch BYTES, not just estimates;
3. ``merge_grid_tiles`` folds the emitted level-0 cells into the tile
   table: counts and sums add, sketches union — a user seen both last
   month and five minutes ago counts ONCE. History is never rescanned;
   the merge touches tile rows and deltas only.

The walkthrough replays driver testdata as two halves — "history" and
a live file stream — then proves merged tiles == a from-scratch rollup
of everything (the test suite pins the same identity in
tests/test_rollup.py).

    python examples/heatmap_tiles.py [sf_dir]
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
from trackintel_spark.analysis import grid_rollup, merge_grid_tiles
from trackintel_spark.sources import load_table
from trackintel_spark.streaming import grid_counts_stream

CELL, LEVELS = 0.01, 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="heatmap_tiles")
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_table(spark, sf_dir, "events")
    pfs = ev.select(
        "user_id",
        F.col("ts").alias("tracked_at"),
        (8.5 + (F.col("value") % 3).cast("int") * 0.05 + F.col("value") / 1e6).alias("lon"),
        (47.4 + (F.col("value") % 2).cast("int") * 0.05).alias("lat"),
    )
    split_ts = pfs.selectExpr("percentile_approx(tracked_at, 0.7) AS t").first()["t"]
    history = pfs.filter(F.col("tracked_at") <= split_ts)
    live = pfs.filter(F.col("tracked_at") > split_ts)

    # 1. historical tiles, with mergeable state
    tiles = grid_rollup(
        history, levels=LEVELS, base_cell_deg=CELL, user_col="user_id", emit_state=True
    ).persist()
    print(f"historical tiles: {tiles.count()} rows across {LEVELS} levels")

    # 2. live fixes arrive as a file stream (two chunks)
    workdir = tempfile.mkdtemp(prefix="heatmap_tiles_")
    try:
        src = os.path.join(workdir, "src")
        os.makedirs(src)
        chunks = live.randomSplit([0.5, 0.5], seed=7)
        for i, chunk in enumerate(chunks):
            d = os.path.join(src, f"arrival{i}")
            chunk.coalesce(1).write.mode("overwrite").parquet(d)
            now = time.time() + i
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now, now))
        stream = (
            spark.readStream.schema(live.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            grid_counts_stream(stream, cell_deg=CELL, window="1 day",
                               watermark="0 seconds", user_col="user_id")
            .writeStream.format("memory").queryName("tile_updates")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        updates = spark.sql(
            """SELECT cy, cx, SUM(n) AS n, SUM(sum_lon) AS sum_lon,
                      SUM(sum_lat) AS sum_lat,
                      hll_union_agg(users_sketch) AS users_sketch
               FROM tile_updates GROUP BY cy, cx"""
        )
        print(f"streamed level-0 cell updates: {updates.count()}")

        # 3. fold the deltas in — no history rescan, no double-counted users
        merged = merge_grid_tiles(tiles, updates, levels=LEVELS, base_cell_deg=CELL)
        merged.filter("level = 2").orderBy(F.desc("n")).select(
            "level", "cy", "cx", "n", F.round("users_est").alias("users")
        ).show(5)

        # prove the identity: merged == rollup of everything
        want = {
            (r.level, r.cy, r.cx): (r.n, round(r.users_est))
            for r in grid_rollup(
                pfs, levels=LEVELS, base_cell_deg=CELL, user_col="user_id"
            ).collect()
        }
        got = {
            (r.level, r.cy, r.cx): (r.n, round(r.users_est))
            for r in merged.collect()
        }
        assert got == want, "stream-merge != batch rollup of full history"
        print(f"merge identity holds on {len(got)} tiles: "
              "history tiles + streamed sketch deltas == full-history rollup")

        # 4. publication gate: before the tiles leave the system,
        # k-anonymize — report each area at the finest level whose
        # cell still covers >= k distinct users (exact census, not the
        # HLL estimates the tiles carry), suppress what never does
        from trackintel_spark.analysis import anonymize_grid

        published = anonymize_grid(
            pfs, k=10, levels=LEVELS, base_cell_deg=CELL, user_col="user_id"
        ).persist()
        assert published.filter(F.col("n_users") < 10).count() == 0
        n_pub = published.count()
        n_covered = published.agg(F.sum("n_points")).first()[0] or 0
        total = pfs.count()
        print(f"k-anonymous publication: {n_pub} disjoint cells cover "
              f"{n_covered}/{total} fixes (rest suppressed), all >= 10 users")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
