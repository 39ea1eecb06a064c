"""SparkSession factory configured the way a 1000-executor cluster job
would be: AQE on (runtime re-planning, skew join splitting, partition
coalescing), explicit UTC session timezone (oracle hash alignment), Arrow
enabled for the Pandas-UDF slow path.

Streaming shuffles follow the cores the local session runs on, so one
micro-batch costs one wave of tasks rather than several; batch shuffles
start at a fixed width that AQE coalesces. At cluster scale the only
knobs that change are master / memory / shuffle partitions; query code
never needs to know.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# width every batch shuffle starts at before AQE coalesces it, kept apart
# from the core-sized streaming width: at local[8] on a 4-core host,
# batch shuffles started 8 wide ran bench.py's heavy graph and LSH keys
# 12-25% slower than at 32 (uneven tasks, no spare ones to balance them)
BATCH_SHUFFLE_PARTITIONS = 32
INITIAL_PARTITIONS_CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def get_spark(app_name: str = "lambdatotheslaughter_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Keeps one session per process: the driver and bench amortize the ~10 s
    JVM startup across every query (BASELINE.md bench guidance).

    ``shuffle_partitions``, else ``SPARK_GRAFT_SHUFFLE``, sets the width of
    every shuffle. Without either, the two kinds of query get their own:

    - Streaming queries run without AQE, so ``spark.sql.shuffle.partitions``
      is their shuffle width and a stateful query's number of state stores.
      It is the session's default parallelism: the cores Spark resolved for
      ``local[SPARK_GRAFT_CPUS]`` (for ``local[*]``, the cores the JVM may
      use). A stateful query keeps the count it first started with: Spark
      restores it from the checkpoint's offset log.
    - Batch queries run under AQE, which starts each shuffle at
      ``initialPartitionNum`` (``BATCH_SHUFFLE_PARTITIONS``) and coalesces.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local metastore for the Hive-managed serving layer (sink_managed_table)
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/lts_spark_warehouse"))
        .config("spark.sql.streaming.checkpointLocation", os.environ.get(
            "SPARK_GRAFT_CKPT", "/tmp/lts_spark_ckpt"))
    )
    if os.environ.get("SPARK_GRAFT_CLUSTER_PROFILE", "0") == "1":
        # r12 §9 config pass (VERDICT r11 ask #7), env-keyed so the LOCAL
        # defaults — and therefore the driver's bench — stay byte-for-byte
        # comparable across rounds. These are the guide's cluster-scale
        # knobs, not local[32] tuning; each is value-neutral (join
        # strategy / serialization / scan-split changes only) and the full
        # 546-key oracle-parity replica was run green with the profile ON
        # (OPTIMIZATION_r12.md §7):
        # - preferSortMergeJoin=false + a 128m local-map threshold let the
        #   planner (and AQE, at runtime) pick shuffled-hash over
        #   sort-merge when a per-partition build fits — guide §3.1: SMJ
        #   pays a sort both sides that SHJ skips. The r11 forced-SHJ
        #   robustness audit (SCALE.md) already pinned value parity for
        #   every registry key under this planner regime.
        # - pythonUDF.arrow.enabled: scalar @udf batches cross the Python
        #   boundary as Arrow instead of pickled rows (guide §4.3). The
        #   registry's 6 scalar-UDF/UDTF contract demos declare honest
        #   return types; parity was re-proven with the flag ON.
        # - maxPartitionBytes=512m: fewer, larger scan splits for long
        #   sequential parquet scans (guide §6) — sized for cluster-scale
        #   inputs, pointless (single-file) at the local SFs.
        builder = (
            builder
            .config("spark.sql.join.preferSortMergeJoin", "false")
            .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                    "128m")
            .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", "512m")
        )
    spark = builder.getOrCreate()
    width = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", 0))
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(width or spark.sparkContext.defaultParallelism))
    spark.conf.set(INITIAL_PARTITIONS_CONF, str(width or BATCH_SHUFFLE_PARTITIONS))
    spark.sparkContext.setLogLevel("WARN")
    return spark
