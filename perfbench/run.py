"""sparklinks benchmark.

    python3 perfbench/run.py --workload {ingest,api,catalog} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from the seed inside
``perfbench/.work/``, drives the package only through its public
functions on a ``local[4]`` session, checks every output, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and Spark counters around every layer call and the
metrics are the per-layer ones. See LAYERS.md for what each metric means
and which end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
LAYER_SPANS = ("runner.run_import", "runner.run_compact", "runner.run_store",
               "runner.query_links", "operators.linkdb.to_json_response",
               "httpapi.request", "catalog.build", "catalog.sink")


@dataclass
class Context:
    spark: object
    stats: object
    tracer: object
    seed: int
    seconds: float
    work: str


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    run left cached or leaked."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def trace_summary(tracer, workload: str) -> dict[str, float]:
    """Self time of each layer's spans, how much of the workload's wall
    the spans under its root account for, and what tracing itself cost."""
    root = tracer.named(f"workload.{workload}")[0]
    wall = root["end"] - root["start"]
    top = sum(s["end"] - s["start"] for s in tracer.spans
              if s["parent"] == root["id"])
    own = tracer.self_times()
    m = {f"self_s.{k}": own.get(k, 0.0) for k in LAYER_SPANS}
    m["self_s.check"] = sum(v for k, v in own.items()
                            if k.endswith("check") or k == "expected")
    m["self_s.gen"] = sum(v for k, v in own.items() if k.startswith("gen."))
    m["trace.coverage"] = top / wall
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.overhead_frac"] = tracer.overhead_s / wall
    return m


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: closing the launcher's
    stdin makes the JVM (and the Python workers it forked) shut down."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark spawns import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Spark's scratch space: the environment variable wins over any conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "api", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        from globallinks_spark.session import get_spark

        import api
        import catalog
        import ingest
        from sparkstats import StatusStore
        from spans import Tracer

        workloads = {"ingest": ingest.run, "api": api.run, "catalog": catalog.run}

        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={"spark.driver.memory": "2g",
                        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                        "spark.ui.showConsoleProgress": "false"},
        )
        try:
            stats = StatusStore(spark)
            ctx = Context(spark, stats, Tracer(bool(args.trace), stats),
                          args.seed, args.seconds, work)
            session_s = time.perf_counter() - t_start
            with ctx.tracer.span(f"workload.{args.workload}"):
                res = workloads[args.workload](ctx)
            res.e2e["setup_s"] = session_s + res.setup_s
            if ctx.tracer.enabled:
                res.layers["retained_heap_mb"] = retained_heap_mb(spark)
                res.layers["peak_rss_mb"] = peak_rss_mb(spark)
                res.layers.update(trace_summary(ctx.tracer, args.workload))
                res.layers["trace.op_ms"] = res.e2e["op_ms"]
                trace_dir = os.path.join(HERE, ".work", "traces")
                os.makedirs(trace_dir, exist_ok=True)
                ctx.tracer.write(os.path.join(
                    trace_dir, f"{args.workload}-{args.seed}.json"))
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    got = res.layers if args.trace else res.e2e
    unknown = set(got) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a per-layer metric of a layer this workload does not call reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0) if args.trace
                           else got[m["name"]], "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
