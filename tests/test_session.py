"""get_spark sizes streaming shuffles to the cores the session runs on and
starts batch shuffles at a fixed width; ``SPARK_GRAFT_SHUFFLE`` and
``shuffle_partitions=`` still set both."""

from __future__ import annotations

import re

from lambdatotheslaughter_spark.plans.checks import executed_plan
from lambdatotheslaughter_spark.session import (
    BATCH_SHUFFLE_PARTITIONS, INITIAL_PARTITIONS_CONF, get_spark)

CONF = "spark.sql.shuffle.partitions"


def _widths(spark) -> tuple[int, int]:
    return int(spark.conf.get(CONF)), int(spark.conf.get(INITIAL_PARTITIONS_CONF))


def test_get_spark_sets_core_sized_shuffle_partitions(spark, monkeypatch):
    """Calling get_spark again re-applies its settings to the shared
    session, which exercises the default and both overrides without a
    second JVM."""
    before = _widths(spark)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    try:
        assert _widths(get_spark()) == (spark.sparkContext.defaultParallelism,
                                        BATCH_SHUFFLE_PARTITIONS)
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "7")
        assert _widths(get_spark()) == (7, 7)
        assert _widths(get_spark(shuffle_partitions=5)) == (5, 5)
    finally:
        monkeypatch.undo()
        get_spark("lts-tests")
    assert _widths(spark) == before


def test_batch_shuffles_start_at_the_batch_width(spark):
    """Batch plans (AQE on) start each shuffle at initialPartitionNum, not
    at the core-sized streaming width."""
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    plan = executed_plan(df)
    width = spark.conf.get(INITIAL_PARTITIONS_CONF)
    assert re.search(rf"hashpartitioning\(k#\d+L, {width}\)", plan), plan
