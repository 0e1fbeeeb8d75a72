"""SparkSession helpers with the engine's defaults.

* AQE on (runtime partition coalescing + skew-join splitting);
* Arrow on (all Python kernels are Arrow-batched pandas UDFs);
* UTC session timezone (the reference requires tz-aware timestamps
  everywhere, model/positionfixes.py:64-66 — we normalize to UTC);
* ``spark.sql.shuffle.partitions`` follows the cores the session runs
  on (``sparkContext.defaultParallelism``): N for ``local[N]``, every
  core for ``local[*]``. This is the rule the Python-kernel stages
  already use (``plans.partitioning.kernel_partitions``), so one
  session has one sizing rule. The value is read once, when the
  session is built. A session handed back by ``getOrCreate`` that runs
  on a cluster can report too few cores before its executors register,
  so pass ``shuffle_partitions`` there. A stateful streaming query
  fixes its state-partition count from this value when it first
  starts; Spark records that count in the query's offset log and
  re-applies it on every restart from the checkpoint, whatever the
  session says by then.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trackintel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master=None`` means ``local[SPARK_GRAFT_CPUS]`` (default: all
    cores). Shuffle partitions default to the session's default
    parallelism, read once after the session starts; an explicit
    ``shuffle_partitions`` or an ``extra_conf`` entry for
    ``spark.sql.shuffle.partitions`` wins. A streaming query restarted
    from a checkpoint keeps the count recorded there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata parquet carries TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # micros-NTZ testdata era: read as plain `timestamp` so numeric
        # casts in the operators resolve (sources/testdata.py fixups
        # cover sessions we didn't build).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # collect_list/collect_set aggregations (leg geometry, trip
        # member lists, tour links) run as ObjectHashAggregate, whose
        # sort-based fallback triggers after only 128 distinct keys per
        # partition (Spark default) — i.e. every such aggregation was
        # silently a full sort. Segment/trip groups are numerous and
        # small, so a realistic in-memory budget keeps them hash-based;
        # state is bounded by the partition's own bytes either way, and
        # the fallback still guards pathological single-partition group
        # counts beyond this (r12, guide §2.4/§5). MEMORY WATCH (ADVICE
        # r12): this applies to EVERY collect_list/collect_set agg in
        # the session — for wide-payload aggregations fed by exchanges
        # larger than a scan split, up to 500k group buffers stay on
        # the executor heap before the spillable sort fallback. If an
        # aggregation OOMs at high SF, scope this down (set/reset
        # around the kernel aggs) before raising executor memory.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "500000")
        # parquet scan defaults: 128 MiB splits keep partitions memory-safe
        # at high SF while still parallelizing small local files.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if shuffle_partitions is not None:
        conf.setdefault("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark
