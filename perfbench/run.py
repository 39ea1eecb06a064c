#!/usr/bin/env python3
"""Lambda-layer benchmark for the lambdatotheslaughter_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see README.md):
``batch_queries`` is a closed loop over the batch layer's registered
queries, ``speed_ingest`` a live two-view stream. The seed shapes the inputs the
engine sees: the query order of every pass and the stream feed. Every
result is checked; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lambdatotheslaughter_spark"
WORKLOADS = ("batch_queries", "speed_ingest")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def isolate(run_dir: str) -> None:
    """Give this run private temp, warehouse, checkpoint and Spark local
    dirs, all under ``run_dir``, before the JVM starts. The engine's
    fingerprinted round-trip caches live under the temp dir, so nothing
    a previous process built is visible to this one."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "ckpt", "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_GRAFT_CKPT": dirs["ckpt"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # Python workers import the engine's UDFs by module path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        # JVM temp files (native-library unpacking) stay in the run dir;
        # neither the launcher JVM nor the Spark JVM writes hsperfdata to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
            + " pyspark-shell",
    })
    tempfile.tempdir = None


def set_up(tracer, data_dir: str, t0: float):
    """The one set-up a run pays, cold: from ``t0`` (process start, less
    the input generation) through JVM launch and session, the registry's
    imports and one warm-up scan. Returns the session, its query table and
    the timings."""
    tracer.new_op()
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = importlib.import_module(f"{PACKAGE}.session").get_spark("perfbench")
        session_s = time.perf_counter() - t
        tracer.bind(spark)
        t = time.perf_counter()
        with tracer.span("registry.all_queries"):
            fns = importlib.import_module(f"{PACKAGE}.registry").all_queries()
        registry_s = time.perf_counter() - t
        with tracer.span("warmup"):
            importlib.import_module(f"{PACKAGE}.tables").load_table(
                spark, "orders", data_dir).count()
    return spark, fns, {"setup_s": time.perf_counter() - t0,
                        "session_s": session_s, "registry_s": registry_s}


def stop_spark() -> None:
    """Stop the active session, if any, then the JVM, and wait until the
    JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def expected_digests(fingerprint: str) -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        table = json.load(f)
    if fingerprint not in table:
        raise RuntimeError(f"no digests for dataset {fingerprint}; "
                           "regenerate with python3 perfbench/make_digests.py")
    return table[fingerprint]


def run_workload(args, run_dir: str) -> dict:
    import datagen
    import measure
    import queries
    import stream
    from tracing import Tracer

    t = time.perf_counter()
    data_dir = os.path.join(run_dir, "data")
    fingerprint = datagen.write_dataset(data_dir)
    gen_s = time.perf_counter() - t
    tracer = Tracer(bool(args.trace))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        spark, fns, timings = set_up(tracer, data_dir, T_PROCESS + gen_s)
        if args.workload == "speed_ingest":
            res = stream.run(spark, data_dir, tracer, args.seconds, args.seed,
                             run_dir, bool(args.trace))
        else:
            res = queries.run(spark, fns, data_dir, expected_digests(fingerprint),
                              tracer, args.seconds, args.seed, args.workload,
                              cores, bool(args.trace))
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss = {"python": measure.peak_rss_mb([os.getpid()]),
               "jvm": measure.peak_rss_mb([jvm_pid])}
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
    res["setup_s"] = timings["setup_s"]
    res["rss_mb"] = rss
    res["fingerprint"] = fingerprint
    if args.trace:
        layers = res.setdefault("per_layer", {})
        layers.update({
            "session.get_spark_s": timings["session_s"],
            "registry.load_s": timings["registry_s"],
            "check.s": res["check_s"],
            "trace.self_s": tracer.self_s,
            "mem.peak_rss_mb": rss["python"] + rss["jvm"],
        })
        tracer.dump(os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed})
    return res


def report(args, res: dict, spec: dict) -> dict:
    """Human-readable lines, then the result object."""
    import measure

    e2e = [m["name"] for m in spec["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    layers = res.get("per_layer", {})
    for name in e2e:
        if name in res:
            layers[f"e2e.{name}"] = res[name]
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: layers.get(n, 0.0) for n in names}
    else:
        names = e2e
        values = {n: res[n] for n in names if n in res}
    measure.check_metric_names(names)
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} dataset={res['fingerprint']}")
    print(f"error_rate {failed / max(attempted, 1):.4f} ({failed} of {attempted} operations)")
    for key in ("pass_summary", "freshness", "lateness"):
        if key in res:
            print(f"{key} {json.dumps(res[key])}")
    print(f"peak rss MiB {res.get('rss_mb')}")
    print(f"untimed: check {res['check_s']:.2f}s, gc {res.get('between_s', 0):.2f}s")
    for n in names:
        if n in values:
            print(f"{n} {values[n]:.6g} {units[n]}")
    correct = failed == 0 and all(n in values for n in names)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]}
                        for n in names if n in values}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path[:0] = [HERE, ROOT]
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(HERE, ".scratch"))
    try:
        isolate(run_dir)
        res = run_workload(args, run_dir)
    except Exception:  # noqa: BLE001 - the run could not finish: no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report(args, res, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
