"""Closed-loop query workloads: one client runs the workload's registered
keys back to back, each pass in a seed-shuffled order, and checks every
result against the stored oracle digest outside the timed region."""

from __future__ import annotations

import gc
import random
import statistics
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

from measure import geomean, result_digest, summarize

# The batch layer's keys: every operator module a query of the lambda
# batch layer exercises, once each where one key covers it. Relational
# keys are bound by scans, exact-money aggregation, broadcast/bucketed joins
# and bucketed ranks; the curation keys run on tiny inputs, so their time
# goes to shingle explodes, GEMMs, checkpoint barriers, iterative rounds and
# Python workers. README.md lists the keys left out to fit the run budget.
WORKLOAD_KEYS = {
    "batch_queries": (
        "agg_pricing_summary",      # aggregates
        "topk_global",              # sorts
        "join_multiway_star",       # joins
        "win_topk_per_group",       # windows
        "join_bucketed_colocated",  # skew
        "llm_text_stats",           # llm
        "llm_sentiment_lexicon",    # corpus
        "llm_fingerprint",          # llm
        "llm_sim_knn_bruteforce",   # llm
        "graph_pagerank_fixed",     # graph
    ),
}
MIN_WARM_PASSES = 2

OPERATOR_LAYERS = ("aggregates", "sorts", "joins", "windows", "skew", "llm",
                   "corpus", "graph")
LAYER_FIELDS = ("build_s", "drain_s", "jobs", "tasks", "task_busy_s",
                "shuffle_write_bytes")


@dataclass
class Execution:
    key: str
    ok: bool
    build_s: float = 0.0
    drain_s: float = 0.0
    error: str = ""
    spark: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.drain_s


def run_loop(keys, execute: Callable[[str], Execution], seconds: float,
             rng: random.Random, between_keys: Callable[[], None] = lambda: None,
             between_passes: Callable[[], None] = lambda: None):
    """One cold pass, then warm passes until ``seconds`` have elapsed and
    at least ``MIN_WARM_PASSES`` ran (the pass under way when time runs
    out completes). ``execute`` raising counts as a failed execution; the
    loop never aborts on it."""
    def one_pass():
        done = []
        for key in rng.sample(list(keys), len(keys)):
            try:
                done.append(execute(key))
            except Exception as e:  # noqa: BLE001 - a failing key is data, not a crash
                traceback.print_exc()
                done.append(Execution(key, ok=False, error=repr(e)))
            between_keys()
        between_passes()
        return done

    first = one_pass()
    warm = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(warm) < MIN_WARM_PASSES:
        warm.append(one_pass())
    return first, warm


def end_to_end(first: list[Execution], warm: list[list[Execution]]) -> dict:
    per_key = defaultdict(list)
    for p in warm:
        for e in p:
            if e.ok:
                per_key[e.key].append(e.latency_s)
    passes = [sum(e.latency_s for e in p) for p in warm]
    return {
        "first_pass_s": sum(e.latency_s for e in first),
        "pass_s": statistics.median(passes),
        "query_geomean_s": geomean([statistics.median(v) for v in per_key.values()]),
        "pass_summary": summarize(passes),
        "key_summary": {k: summarize(v) for k, v in sorted(per_key.items())},
    }


def counts(first, warm) -> tuple[int, int]:
    runs = first + [e for p in warm for e in p]
    return len(runs), sum(not e.ok for e in runs)


class SparkExecutor:
    """Builds and drains one registered query; checks its digest untimed."""

    def __init__(self, spark, fns, data_dir, expected, tracer):
        self.spark, self.fns, self.data_dir = spark, fns, data_dir
        self.expected, self.tracer = expected, tracer
        self.check_s = self.between_s = 0.0

    def __call__(self, key: str) -> Execution:
        tr = self.tracer
        tr.new_op()
        build_counts, drain_counts = {}, {}
        # clocks inside the spans: a traced run's job-group set-up and
        # status reads fall between the timed calls, not inside them
        with tr.span(f"query.{key}.build", build_counts):
            t0 = time.perf_counter()
            df = self.fns[key](self.spark, self.data_dir)
            t1 = time.perf_counter()
        with tr.span(f"query.{key}.drain", drain_counts):
            t2 = time.perf_counter()
            pdf = df.toPandas()
            t3 = time.perf_counter()
        ok = result_digest(pdf) == self.expected[key]
        self.check_s += time.perf_counter() - t3
        spark_counts = {k: build_counts.get(k, 0) + drain_counts.get(k, 0)
                        for k in set(build_counts) | set(drain_counts)}
        return Execution(key, ok, t1 - t0, t3 - t2,
                         "" if ok else "result digest mismatch", spark_counts)

    def between_keys(self) -> None:
        """Free Python garbage between keys, outside any timing."""
        t = time.perf_counter()
        gc.collect()
        self.between_s += time.perf_counter() - t

    def between_passes(self) -> None:
        """A full JVM collection between passes, outside any timing, so no
        pass inherits the previous one's garbage. (A full collection takes
        ~0.25 s here; after every key it would not fit the run budget.)"""
        t = time.perf_counter()
        gc.collect()
        self.spark._jvm.System.gc()
        self.between_s += time.perf_counter() - t


def plain_q1(spark, data_dir: str):
    """TPC-H Q1 in plain PySpark (double sums, no exact-money helpers): the
    reference the determinism layer's cost is measured against."""
    import os

    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.sum(disc),
                 F.sum(disc * (1 + F.col("l_tax"))), F.avg("l_quantity"),
                 F.avg("l_extendedprice"), F.avg("l_discount"), F.count(F.lit(1))))


def per_layer(fns, warm: list[list[Execution]], cores: int,
              q1_ratio: float) -> dict:
    """Per-operator-module sums per warm pass, plus executor-wide ratios."""
    n = max(len(warm), 1)
    out = {f"operators.{m}.{f}": 0.0 for m in OPERATOR_LAYERS for f in LAYER_FIELDS}
    busy = wall = in_bytes = in_rows = gc_s = 0.0
    for p in warm:
        for e in p:
            layer = fns[e.key].__module__.rsplit(".", 1)[-1]
            out[f"operators.{layer}.build_s"] += e.build_s / n
            out[f"operators.{layer}.drain_s"] += e.drain_s / n
            for f in ("jobs", "tasks", "task_busy_s", "shuffle_write_bytes"):
                out[f"operators.{layer}.{f}"] += e.spark.get(f, 0) / n
            busy += e.spark.get("task_busy_s", 0)
            wall += e.latency_s
            in_bytes += e.spark.get("input_bytes", 0)
            in_rows += e.spark.get("input_rows", 0)
            gc_s += e.spark.get("task_gc_s", 0)
    out.update({
        "tables.input_bytes": in_bytes / n,
        "tables.input_rows": in_rows / n,
        "spark.core_util": busy / (wall * cores) if wall else 0.0,
        "spark.jvm_gc_s": gc_s / n,
        "determinism.q1_tax_ratio": q1_ratio,
    })
    return out


def run(spark, fns, data_dir, expected, tracer, seconds, seed, workload,
        cores, trace):
    keys = WORKLOAD_KEYS[workload]
    missing = [k for k in keys if k not in expected]
    if missing:
        raise RuntimeError(f"no expected digest for {missing}")
    ex = SparkExecutor(spark, fns, data_dir, expected, tracer)
    q1_times = {"engine": [], "plain": []}

    def execute(key):
        e = ex(key)
        if trace and key == "agg_pricing_summary":
            # same window, same session: the plain-PySpark q1 right after
            ex.between_keys()
            t = time.perf_counter()
            with tracer.span("reference.plain_q1"):
                plain_q1(spark, data_dir).toPandas()
            q1_times["plain"].append(time.perf_counter() - t)
            q1_times["engine"].append(e.latency_s)
        return e

    first, warm = run_loop(keys, execute, seconds, random.Random(seed),
                           ex.between_keys, ex.between_passes)
    attempted, failed = counts(first, warm)
    for e in first + [e for p in warm for e in p]:
        if not e.ok:
            print(f"FAILED {e.key}: {e.error}")
    result = {"attempted": attempted, "failed": failed, "check_s": ex.check_s,
              "between_s": ex.between_s, "warm_passes": len(warm)}
    if not any(e.ok for p in warm for e in p):
        return result
    result.update(end_to_end(first, warm))
    if trace:
        ratio = (statistics.median(q1_times["engine"][1:] or q1_times["engine"])
                 / statistics.median(q1_times["plain"][1:] or q1_times["plain"])
                 if q1_times["plain"] else 0.0)
        result["per_layer"] = per_layer(fns, warm, cores, ratio)
    return result
