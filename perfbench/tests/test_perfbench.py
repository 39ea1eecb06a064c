"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

All but ``test_freshness_maps_each_chunk_to_its_batch`` run without Spark.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import feed  # noqa: E402
import measure  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module")
def events() -> pa.Table:
    return datagen.build_tables()["events"]


# -- tail percentiles -------------------------------------------------------

@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_table(n, expected):
    assert measure.tail_percentile(n) == expected


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in [*range(1, 400), 999, 1000, 1001, 9999, 10000]:
        p = measure.tail_percentile(n)
        if p is None:
            assert n - math.ceil(0.5 * n) < measure.TAIL_MIN_BEYOND
            continue
        xs = list(range(n))
        beyond = sum(x > measure.percentile(xs, p) for x in xs)
        assert beyond >= measure.TAIL_MIN_BEYOND
        higher = [q for q in (75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
        if higher:
            assert n - measure._rank(higher[0], n) < measure.TAIL_MIN_BEYOND


def test_summarize_names_only_supported_percentiles():
    assert set(measure.summarize([1.0] * 19)) == {"n", "median"}
    assert set(measure.summarize([1.0] * 45)) == {"n", "median", "p75"}


# -- metric names -----------------------------------------------------------

def test_metric_names_are_valid_and_unique():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    measure.check_metric_names(names)
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert measure.METRIC_NAME.fullmatch(m["unit"].replace("/", "_").replace("%", "_"))


@pytest.mark.parametrize("bad", ["", "has space", "x" * 65, "_lead", "a,b", "é"])
def test_metric_name_regex_rejects(bad):
    with pytest.raises(ValueError):
        measure.check_metric_names([bad])


def test_report_emits_exactly_the_declared_metrics():
    args = run.parse_args(["--workload", "batch_queries", "--seed", "1",
                           "--seconds", "1", "--trace", "0"])
    res = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    res.update(attempted=3, failed=0, fingerprint="f", check_s=0.0)
    out = run.report(args, res, SPEC)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert out["correct"] is True
    args.trace = 1
    out = run.report(args, dict(res, per_layer={}), SPEC)
    assert list(out["metrics"]) == [m["name"] for m in SPEC["per_layer"]]


# -- feed generator ---------------------------------------------------------

def test_feed_is_deterministic_per_seed(events):
    a, b = feed.build_feed(events, 7), feed.build_feed(events, 7)
    assert feed.manifest(a) == feed.manifest(b)
    assert feed.feed_digest(a) == feed.feed_digest(b)


def test_other_seed_same_multiset_other_order(events):
    def delivered_once(f):
        return [i for c in f if not c.redelivery for i in c.rows["event_id"].to_pylist()]

    a, b = delivered_once(feed.build_feed(events, 7)), delivered_once(feed.build_feed(events, 8))
    assert sorted(a) == sorted(b) == events["event_id"].to_pylist()
    assert a != b
    assert feed.feed_digest(feed.build_feed(events, 7)) != feed.feed_digest(feed.build_feed(events, 8))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_feed_stays_inside_the_watermark(events, seed):
    """Every file's oldest event is under ten minutes behind the newest
    event of all earlier files, so a 10-minute watermark drops nothing."""
    newest = None
    for c in feed.build_feed(events, seed):
        ts = pc.cast(c.rows["ts"], pa.int64())
        if newest is not None:
            assert newest - pc.min(ts).as_py() < 10 * 60 * 1_000_000
        newest = max(newest or 0, pc.max(ts).as_py())


@pytest.mark.parametrize("seed", range(1, 9))
@pytest.mark.parametrize("seconds", [5, 10, 12, 30])
def test_run_slice_crosses_a_window_end_by_more_than_the_watermark(events, seed, seconds):
    """The files a speed_ingest run delivers move the watermark past the
    end of the first file's tumbling window before the last file, so a
    window is finalized during the run."""
    import stream

    n = stream.BACKLOG_FILES + math.floor(seconds * stream.LIVE_RATE) + 1
    files = feed.crossing_slice(feed.build_feed(events, seed), n)
    assert len(files) == n and not files[0].redelivery
    assert feed.watermark_before_last(files) > feed.first_window_end(files)


# -- query loop -------------------------------------------------------------

def test_failing_key_counts_as_error_and_run_continues():
    calls = []

    def execute(key):
        calls.append(key)
        if key == "boom":
            raise RuntimeError("deliberate failure")
        if key == "wrong":
            return queries.Execution(key, ok=False, error="result digest mismatch")
        return queries.Execution(key, ok=True, build_s=0.01, drain_s=0.02)

    keys = ("a", "boom", "b", "wrong")
    first, warm = queries.run_loop(keys, execute, 0.0, random.Random(1))
    passes = 1 + queries.MIN_WARM_PASSES
    assert len(calls) == passes * len(keys)
    attempted, failed = queries.counts(first, warm)
    assert (attempted, failed) == (passes * 4, passes * 2)
    e2e = queries.end_to_end(first, warm)
    assert e2e["query_geomean_s"] == pytest.approx(0.03)


def test_pass_order_is_seeded():
    def order(seed):
        seen = []
        queries.run_loop("abcdef", lambda k: seen.append(k) or queries.Execution(k, True, 1, 1),
                         0.0, random.Random(seed))
        return seen

    assert order(5) == order(5)
    assert order(5) != order(6)


def test_traced_timings_exclude_the_tracers_status_reads():
    """A traced call's job-group set-up and status-store reads fall
    outside its build and drain times, and every result is checked."""
    import pandas as pd

    class FakeContext:
        def setJobGroup(self, *args):
            pass

        def setLocalProperty(self, *args):
            pass

    class SlowTracer(tracing.Tracer):
        def stage_counts(self, group):
            time.sleep(0.2)
            return {"jobs": 1.0}

    class Result:
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    good, bad = pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1, 3]})
    results = iter([good, bad])
    tracer = SlowTracer(True)
    tracer.sc = FakeContext()
    ex = queries.SparkExecutor(None, {"k": lambda spark, d: Result(next(results))}, "",
                               {"k": measure.result_digest(good)}, tracer)
    e = ex("k")
    assert e.ok and e.spark["jobs"] == 2
    assert e.latency_s < 0.1
    assert not ex("k").ok


# -- launcher ---------------------------------------------------------------

def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".scratch", ".out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- stream: batch <-> chunk mapping ----------------------------------------

def test_freshness_maps_each_chunk_to_its_batch(tmp_path, events):
    """On a tiny feed, the checkpoint-derived file -> batch mapping names
    the micro-batch that really emitted each file's rows, including when
    watermark-only (no-data) batches shift the numbering."""
    pytest.importorskip("pyspark")
    import stream
    from lambdatotheslaughter_spark.session import get_spark
    from lambdatotheslaughter_spark.streaming.harness import EVENT_STREAM_SCHEMA

    spark = get_spark("perfbench-tests")
    chunks = [c for c in feed.build_feed(events.slice(0, 1000), 4) if not c.redelivery]
    stage, src, ckpt = (str(tmp_path / d) for d in ("stage", "src", "ckpt"))
    feed.write_feed(chunks, stage)
    os.makedirs(src)
    seen = {}

    def record(df, batch_id):
        seen[batch_id] = set(df.select("event_id").toPandas()["event_id"])

    q = (spark.readStream.schema(EVENT_STREAM_SCHEMA)
         .option("maxFilesPerTrigger", 1).parquet(src)
         .withWatermark("ts", "10 minutes").dropDuplicates(["event_id", "ts"])
         .writeStream.foreachBatch(record).option("checkpointLocation", ckpt).start())
    delivered = {}
    try:
        for c in chunks:
            os.rename(os.path.join(stage, c.name), os.path.join(src, c.name))
            delivered[c.name] = time.time()
            done = stream.wait_committed([ckpt], [c.name], 60)[0]
            assert c.name in done
    finally:
        q.stop()
    mapping = stream.file_batches(ckpt)
    times = stream.commit_times(ckpt, list(delivered))
    for c in chunks:
        assert seen[mapping[c.name]] == set(c.rows["event_id"].to_pylist())
        assert times[c.name] >= delivered[c.name]
    assert len(set(mapping.values())) == len(chunks)
