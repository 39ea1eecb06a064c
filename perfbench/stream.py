"""speed_ingest: one seeded feed, two concurrent streaming views.

- tumbling: ``tumbling_agg`` over the harness source with the 10-minute
  watermark, run as a stateful update-mode query; the benchmark keeps the
  latest row per window as the view's content.
- serving: ``upsert_foreach_batch`` merges every micro-batch into the keyed
  parquet serving table.

Phase 1 (closed loop): a backlog of chunk files is in the source directory
when both views start cold; it ends when both have committed the backlog.
Phase 2 (open loop): chunk files are renamed into the source directory at
a fixed rate, each timed from its due time. A chunk's freshness is the
time from its due time to the commit of the batch that read it, in the
later of the two views. Batch membership and commit times are read from
the queries' checkpoints: the file-source log names the files of every
batch, and the commit log file of a batch is written when it commits.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from feed import build_feed, crossing_slice, write_feed
from measure import geomean, result_digest, summarize

BACKLOG_FILES = 3
LIVE_RATE = 1 / 5        # chunk files per second in phase 2
COMMIT_TIMEOUT_S = 60.0
QUIET_HOLD_S = 0.5
WATERMARK = "10 minutes"


def _log_entries(log_dir: str):
    """(file name, JSON lines after the version line) of a metadata log
    directory; a file replaced by compaction meanwhile is skipped."""
    if not os.path.isdir(log_dir):
        return
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        yield name, [json.loads(x) for x in lines if x.strip()]


def file_batches(ckpt: str) -> dict[str, int]:
    """Chunk file name -> id of the micro-batch that read it.

    The file-source log numbers files by the source's own offset, which
    advances only on batches with new files; the offset log maps each
    micro-batch to the source offset it read up to. No-data batches (run
    to advance the watermark) make the two numberings differ."""
    by_offset: dict[str, int] = {}
    for _, entries in _log_entries(os.path.join(ckpt, "sources", "0")):
        for e in entries:
            base = os.path.basename(e["path"])
            by_offset[base] = min(int(e["batchId"]), by_offset.get(base, 1 << 62))
    ends = sorted((int(name), entries[-1]["logOffset"])
                  for name, entries in _log_entries(os.path.join(ckpt, "offsets"))
                  if name.isdigit() and entries)
    out = {}
    for base, offset in by_offset.items():
        for batch, end in ends:
            if end >= offset:
                out[base] = batch
                break
    return out


def commit_time(ckpt: str, batch_id: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch_id))).st_mtime
    except FileNotFoundError:
        return None


def commit_times(ckpt: str, names) -> dict[str, float]:
    """Chunk file name -> commit time of its batch, for committed files."""
    batches = file_batches(ckpt)
    out = {}
    for n in names:
        if n in batches:
            t = commit_time(ckpt, batches[n])
            if t is not None:
                out[n] = t
    return out


def wait_committed(ckpts, names, timeout: float) -> list[dict[str, float]]:
    deadline = time.monotonic() + timeout
    while True:
        done = [commit_times(c, names) for c in ckpts]
        if all(len(d) == len(names) for d in done) or time.monotonic() > deadline:
            return done
        time.sleep(0.05)


def _last_batch(path: str) -> int:
    ids = [int(n) for n in os.listdir(path) if n.isdigit()] if os.path.isdir(path) else []
    return max(ids, default=-1)


def wait_quiet(ckpts, hold: float, timeout: float) -> None:
    """Return once no micro-batch has been in flight in any view for
    ``hold`` seconds: every batch in the offset log has committed. Covers
    the watermark-only batch a stateful view runs after going idle."""
    deadline = time.monotonic() + timeout
    quiet_since = None
    while time.monotonic() < deadline:
        busy = any(_last_batch(os.path.join(c, "offsets")) != _last_batch(os.path.join(c, "commits"))
                   for c in ckpts)
        now = time.monotonic()
        if busy:
            quiet_since = None
        elif quiet_since is None:
            quiet_since = now
        elif now - quiet_since >= hold:
            return
        time.sleep(0.02)


class TumblingView:
    """foreachBatch sink keeping the latest emitted row per window key."""

    def __init__(self):
        self.rows: dict[tuple, tuple] = {}
        self.columns: list[str] | None = None

    def __call__(self, df, batch_id: int) -> None:
        pdf = df.toPandas()
        self.columns = list(pdf.columns)
        for row in pdf.itertuples(index=False, name=None):
            self.rows[(row[0], row[1])] = row

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(list(self.rows.values()), columns=self.columns)


class TimedMerge:
    """Wraps the serving-table merge to time it and size what it writes."""

    def __init__(self, merge, serving_path: str):
        self.merge, self.path = merge, serving_path
        self.merge_s: list[float] = []
        self.bytes_written = 0

    def __call__(self, df, batch_id: int) -> None:
        t = time.perf_counter()
        self.merge(df, batch_id)
        self.merge_s.append(time.perf_counter() - t)
        self.bytes_written += sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.path) for f in fs)


def _progress(query, batch_ids: set[int]) -> list[dict]:
    return [p for p in query.recentProgress
            if p["batchId"] in batch_ids and p["numInputRows"] > 0]


def stream_layers(q_agg, q_srv, ckpts, names, merge, backlog_max, lateness,
                  input_bytes, catchup_eps) -> dict:
    batch_ids = [set(b for n, b in file_batches(c).items() if n in names) for c in ckpts]
    progs = _progress(q_agg, batch_ids[0]) + _progress(q_srv, batch_ids[1])
    dur = [p["durationMs"] for p in progs]
    # every batch of the stateful view, no-data ones too: a window's state
    # is evicted in the first batch that runs after the watermark passed it
    ops = [p["stateOperators"][0] for p in q_agg.recentProgress if p.get("stateOperators")]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    return {
        "stream.batch_s": med([d.get("triggerExecution", 0) / 1e3 for d in dur]),
        "stream.add_batch_s": med([d.get("addBatch", 0) / 1e3 for d in dur]),
        "stream.planning_s": med([d.get("queryPlanning", 0) / 1e3 for d in dur]),
        "stream.commit_s": med([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                                for d in dur]),
        "stream.rows_per_batch": med([p["numInputRows"] for p in progs]),
        "stream.batches": float(len(progs)),
        "stream.state_rows": float(max(o.get("numRowsTotal", 0) for o in ops)) if ops else 0.0,
        "stream.state_rows_removed": float(sum(o.get("numRowsRemoved", 0) for o in ops)),
        "stream.state_memory_bytes": float(ops[-1].get("memoryUsedBytes", 0)) if ops else 0.0,
        "stream.state_commit_ms": med([o.get("commitTimeMs", 0) for o in ops]),
        "stream.state_store_instances": float(
            ops[-1].get("numStateStoreInstances", 0)) if ops else 0.0,
        "stream.dropped_by_watermark": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
        "stream.backlog_files_max": float(backlog_max),
        "stream.upsert_merge_s": med(merge.merge_s) if merge else 0.0,
        "stream.serving_bytes_written": float(merge.bytes_written) if merge else 0.0,
        "stream.write_amp": merge.bytes_written / input_bytes if merge and input_bytes else 0.0,
        "stream.catchup_events_per_s": catchup_eps,
        "feed.lateness_max_s": max(lateness) if lateness else 0.0,
    }


def run(spark, data_dir, tracer, seconds, seed, run_dir, trace):
    from lambdatotheslaughter_spark.operators.streaming_twins import tumbling_agg
    from lambdatotheslaughter_spark.streaming.harness import (
        EVENT_STREAM_SCHEMA, EventStreamHarness, latest_per_user,
        upsert_foreach_batch)

    class FeedHarness(EventStreamHarness):
        """The engine's harness over a chunk directory the benchmark
        writes; ``source()`` is the engine's own."""

        def __init__(self, spark, input_dir):
            self.spark, self.input_dir = spark, input_dir

    n_live = math.floor(seconds * LIVE_RATE) + 1  # due at 0 .. seconds
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    feed = crossing_slice(build_feed(events, seed), BACKLOG_FILES + n_live)
    stage, src = os.path.join(run_dir, "feed_stage"), os.path.join(run_dir, "feed_src")
    write_feed(feed, stage)
    os.makedirs(src)
    names = [c.name for c in feed]
    input_bytes = sum(os.path.getsize(os.path.join(stage, n)) for n in names)
    backlog, live = feed[:BACKLOG_FILES], feed[BACKLOG_FILES:]
    for c in backlog:
        os.rename(os.path.join(stage, c.name), os.path.join(src, c.name))

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    ckpts = [os.path.join(run_dir, "ckpt_tumbling"), os.path.join(run_dir, "ckpt_serving")]
    serving = os.path.join(run_dir, "serving")
    harness = FeedHarness(spark, src)
    view = TumblingView()
    with tracer.span("harness.EventStreamHarness.source"):
        agg_src, srv_src = harness.source(), harness.source()
    with tracer.span("streaming_twins.tumbling_agg"):
        agg = tumbling_agg(agg_src.withWatermark("ts", WATERMARK))
    with tracer.span("harness.upsert_foreach_batch"):
        merge = upsert_foreach_batch(serving)
    timed = TimedMerge(merge, serving) if trace else None

    t_start = time.time()
    q_agg = (agg.writeStream.outputMode("update").foreachBatch(view)
             .option("checkpointLocation", ckpts[0]).start())
    q_srv = (srv_src.writeStream.foreachBatch(timed or merge)
             .option("checkpointLocation", ckpts[1]).start())
    try:
        # phase 1: catch-up
        with tracer.span("stream.catchup"):
            done = wait_committed(ckpts, [c.name for c in backlog], COMMIT_TIMEOUT_S)
        caught = [max(d.values()) for d in done if len(d) == len(backlog)]
        first_pass_s = (max(caught) - t_start) if len(caught) == 2 else None

        # phase 2: live tail at a fixed rate, from a quiet system
        wait_quiet(ckpts, QUIET_HOLD_S, COMMIT_TIMEOUT_S)
        lateness, due, backlog_max = [], {}, 0
        t_live = time.time()
        with tracer.span("stream.live"):
            for i, c in enumerate(live):
                due[c.name] = t_live + i / LIVE_RATE
                pause = due[c.name] - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(os.path.join(stage, c.name), os.path.join(src, c.name))
                lateness.append(max(0.0, time.time() - due[c.name]))
                if trace:
                    delivered = names[:BACKLOG_FILES + i + 1]
                    slow = min(len(commit_times(k, delivered)) for k in ckpts)
                    backlog_max = max(backlog_max, len(delivered) - slow)
            done = wait_committed(ckpts, names, COMMIT_TIMEOUT_S)
    finally:
        for q in (q_agg, q_srv):
            q.stop()

    committed = set(done[0]) & set(done[1])
    fresh = [max(done[0][n], done[1][n]) - due[n] for n in due if n in committed]
    # warm batches: every data batch after each view's first (cold) one
    view_batch_s = []
    for q, ckpt in zip((q_agg, q_srv), ckpts):
        ids = set(file_batches(ckpt).values())
        ds = [p["durationMs"]["triggerExecution"] / 1e3 for p in _progress(q, ids)
              if p["batchId"] > min(ids, default=-1)]
        if ds:
            view_batch_s.append(statistics.median(ds))

    # checks: both views against their batch twins over the delivered files
    t_check = time.perf_counter()
    delivered = spark.read.schema(EVENT_STREAM_SCHEMA).parquet(src)
    with tracer.span("streaming_twins.tumbling_agg"):
        twin_agg = tumbling_agg(delivered).toPandas()
    with tracer.span("harness.latest_per_user"):
        twin_srv = latest_per_user(delivered).toPandas()
    ok_agg = result_digest(twin_agg) == result_digest(view.frame())
    ok_srv = (os.path.exists(serving)
              and result_digest(twin_srv) == result_digest(spark.read.parquet(serving).toPandas()))
    layers = stream_layers(q_agg, q_srv, ckpts, names, timed, backlog_max, lateness,
                           input_bytes,
                           sum(c.rows.num_rows for c in backlog) / first_pass_s
                           if first_pass_s else 0.0)
    dropped = layers["stream.dropped_by_watermark"]
    check_s = time.perf_counter() - t_check

    failed = len(names) - len(committed)
    for label, ok in (("tumbling view != tumbling_agg twin", ok_agg),
                      ("serving table != latest_per_user twin", ok_srv),
                      (f"{dropped:g} rows dropped by the watermark", dropped == 0)):
        if not ok:
            print(f"FAILED {label}")
            failed = len(names)
    result = {"attempted": len(names), "failed": failed, "check_s": check_s,
              "live_chunks": len(fresh),
              "freshness": dict(summarize(fresh), values=[round(f, 3) for f in fresh]),
              "lateness": summarize(lateness)}
    if first_pass_s and fresh and len(view_batch_s) == 2:
        result.update(first_pass_s=first_pass_s, pass_s=statistics.median(fresh),
                      query_geomean_s=geomean(view_batch_s))
    if trace:
        result["per_layer"] = layers
    return result
