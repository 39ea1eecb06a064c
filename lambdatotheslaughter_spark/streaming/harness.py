"""File-source micro-batch harness for the speed layer (SURVEY.md §2.9, §5).

No Kafka broker exists in this environment (and none is needed for
semantics): a directory of parquet chunk files consumed with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` IS a replayable topic —
each file is a micro-batch, arrival order is file order, and watermarks /
state / sinks behave exactly as they would behind a Kafka source. In
production only the source line changes to ``readStream.format("kafka")``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from lambdatotheslaughter_spark.tables import load_table

EVENT_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

# seconds an AvailableNow drain may take before it counts as hung
RUN_TIMEOUT_S = 300


def await_drained(q: StreamingQuery) -> None:
    """Wait for an AvailableNow query to drain its input, so the caller
    never reads a partial sink: a failed query's exception is re-raised
    (by awaitTermination), and a query still running after
    ``RUN_TIMEOUT_S`` is stopped and TimeoutError raised."""
    if not q.awaitTermination(timeout=RUN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream query {q.id} still active after {RUN_TIMEOUT_S} s")


class EventStreamHarness:
    """Writes the events table as N ordered chunk files, exposes them as a
    rate-limited file stream, and runs a transform to a memory sink."""

    def __init__(self, spark: SparkSession, sf_dir: str, n_chunks: int = 4,
                 arrival: str = "in_order"):
        """arrival='in_order' chunks by event_id range (kafka-like ordered
        topic); 'interleaved' chunks by event_id % n (every chunk spans the
        full time range → later chunks deliver late data); 'replay' feeds
        the full stream twice (duplicate delivery)."""
        self.spark = spark
        self.input_dir = os.path.join(tempfile.gettempdir(),
                                      f"lts_stream_{uuid.uuid4().hex[:8]}")
        os.makedirs(self.input_dir)
        ev = load_table(spark, sf_dir=sf_dir, name="events")
        n_rows = ev.count()
        per = (n_rows + n_chunks - 1) // n_chunks
        if arrival == "replay":
            chunk_dfs = [ev, ev]
        elif arrival == "interleaved":
            chunk_dfs = [ev.where(F.col("event_id") % n_chunks == i)
                         for i in range(n_chunks)]
        else:
            chunk_dfs = [ev.where((F.col("event_id") >= i * per)
                                  & (F.col("event_id") < (i + 1) * per))
                         for i in range(n_chunks)]
        for i, cdf in enumerate(chunk_dfs):
            # one file per chunk => one micro-batch per chunk under
            # maxFilesPerTrigger=1 (file mtime order == chunk order)
            tmp = os.path.join(self.input_dir, f"_tmp{i}")
            cdf.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.rename(os.path.join(tmp, part),
                      os.path.join(self.input_dir, f"chunk-{i:04d}.parquet"))
            shutil.rmtree(tmp)

    def source(self) -> DataFrame:
        return (
            self.spark.readStream
            .schema(EVENT_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.input_dir)
        )

    def run(self, transform, output_mode: str = "complete",
            foreach_batch=None) -> DataFrame:
        """Apply `transform` to the stream, drain it with AvailableNow
        (honors maxFilesPerTrigger → true multi-micro-batch execution),
        return the memory-sink table (never a partial one: see
        `await_drained`)."""
        name = f"lts_sink_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(tempfile.gettempdir(), f"lts_ckpt_{name}")
        out = transform(self.source())
        writer = (out.writeStream
                  .option("checkpointLocation", ckpt)
                  .trigger(availableNow=True))
        if foreach_batch is not None:
            q = writer.outputMode(output_mode).foreachBatch(foreach_batch).start()
        else:
            q = writer.outputMode(output_mode).format("memory").queryName(name).start()
        # expose the query for tests that need its progress telemetry
        # (e.g. the final event-time watermark, which decides which
        # outer-join null rows were evictable before shutdown)
        self.last_query = q
        try:
            await_drained(q)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        return self.spark.table(name) if foreach_batch is None else None

    def cleanup(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)


def latest_per_user(df: DataFrame) -> DataFrame:
    """Keyed-latest view: one row per user, newest ts wins, ties pinned by
    event_id desc (a bare ts ordering would pick an arbitrary row among
    same-timestamp events — nondeterministic under retry/replay). Shared
    by the foreachBatch merge and the oracled batch twin so the serving
    table and the lambda-architecture batch view cannot drift."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def upsert_foreach_batch(serving_path: str):
    """The Kudu-upsert analog (SURVEY §3 entry 2): each micro-batch is
    merged into a keyed parquet serving table, latest row per key wins.
    Idempotent per batch — replays overwrite with identical content.

    Crash-safe: the merged table is written beside the serving table and
    swapped in by renames (old table aside, new table in, old table
    deleted), so at every instant the serving table or its set-aside copy
    holds every committed key. A batch that finds the table missing but
    the copy present (a crash mid-swap) restores the copy before merging;
    Spark replays the uncommitted batch, so no key is lost."""
    tmp, aside = serving_path + ".tmp", serving_path + ".old"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(aside):
            if os.path.exists(serving_path):
                shutil.rmtree(aside)
            else:
                os.rename(aside, serving_path)
        new = batch_df
        if os.path.exists(serving_path):
            # the table was written from batches of this same schema:
            # skip footer schema inference on every batch
            old = batch_df.sparkSession.read.schema(batch_df.schema).parquet(serving_path)
            new = old.unionByName(new)
        latest_per_user(new).write.mode("overwrite").parquet(tmp)
        if os.path.exists(serving_path):
            os.rename(serving_path, aside)
        os.rename(tmp, serving_path)
        shutil.rmtree(aside, ignore_errors=True)
    return _merge
