"""SparkSession factory with scale-oriented defaults.

The reference tunes Hive sessions via replayed ``set`` commands
(reference hive_init_commands/initial_hive_commands_stats.json:3-10);
here the equivalent knobs are Spark confs chosen for a many-executor
cluster but safe on local[N]:

- AQE on (runtime coalesce + skew-join split replaces the reference's
  manual reducer tuning, initial_hive_commands_od.json:29-34).
- Arrow enabled for every pandas UDF path (the engine's rule: no
  per-row Python anywhere).
- dynamic partition overwrite to match the reference's
  INSERT OVERWRITE day-partition incrementality
  (queries/cdr_and_mapping/insert_consolidate_cdr.sql:1-3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def engine_conf(shuffle_partitions: int) -> dict[str, str]:
    """The engine's Spark conf as a plain dict — shared by
    build_session (in-process sessions: tests, bench, tools) and the
    spark-submit entry points (tools/submit_pipeline.py,
    tools/scale_level.py), where the master and driver memory come
    from the spark-submit command line instead."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # start every shuffle wide and let AQE coalesce DOWN by
        # measured size: tiny aggregations still end at a handful of
        # partitions, while a multi-10-GiB band/explode shuffle (e.g.
        # hamming_near_dup at 10^7 rows) gets ~64 MiB sort tasks
        # instead of spilling 500 MiB sorts at the static default
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # cap Arrow batches to Python workers by bytes, not only by the
        # 10,000-row default: wide rows (image blobs) arrive in ~16 MB
        # batches instead of ~50 MB ones, which keeps worker memory flat
        # (image rollup on local[4]: peak RSS 5.1-5.6 GB without the
        # cap, 4.2-4.7 GB with it); narrow rows still arrive as
        # 10,000-row batches
        "spark.sql.execution.arrow.maxBytesPerBatch": "16m",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.parquet.compression.codec": "zstd",
        # file splits keep Spark's default size, min(128m, max(openCost,
        # bytes / cores)), which gives every core a split: that balances
        # a Python stage, whose tasks cost a reused worker little setup
        # (_worker_zipimport skips re-reading unchanged zip archives). A
        # split size below the parquet row group only adds empty tasks:
        # one row group per file means one non-empty split per file
        # whatever the size.
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
    }


def build_session(
    app_name: str = "cdr-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's conf set.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32)
    so the same entry point serves tests, bench level A (local[8]) and
    bench level B (local[32]); on a real cluster the master comes from
    spark-submit and this argument stays None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in engine_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
