"""``ingest`` workload: one seeded WAT segment through
``runner.run_import -> run_compact -> run_store``, repeated on warm code.
The operation is one whole pass. The run makes a fixed number of
measured passes, one per PASS_S of its seconds, and reports the fastest:
the JIT is still settling over the first few passes. The cold pass's and the last
pass's link, compacted and serving rows are checked against the keys
the generator predicts."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

import gen
from common import Result, median, spark_digest
from sparkstats import Counters

N_FILES = 4              # one gzip WAT per core: one map task per file
PAGES_PER_FILE = 200
PASS_S = 5.0             # about one warm pass on four cores
SEGMENT = "0"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build(ctx, seg: gen.Segment, out: str, serving: str) -> None:
    """import -> compact -> store, each call inside its layer span."""
    from globallinks_spark.runner import run_compact, run_import, run_store

    t = ctx.tracer
    with t.span("runner.run_import", counters=True):
        run_import(ctx.spark, seg.paths, out, SEGMENT)
    with t.span("runner.run_compact", counters=True):
        run_compact(ctx.spark, out, SEGMENT)
    with t.span("runner.run_store", counters=True):
        run_store(ctx.spark, out, serving)


def verify(ctx, res: Result, seg: gen.Segment, out: str, serving: str) -> None:
    from globallinks_spark.sources.serving import read_serving_table

    spark = ctx.spark
    with ctx.tracer.span("check"):
        links = spark.read.parquet(os.path.join(out, "links", f"segment={SEGMENT}"))
        compact = spark.read.parquet(os.path.join(out, "compact", f"segment={SEGMENT}"))
        want_links = (len(seg.link_keys), gen.row_digest(seg.link_keys))
        ck = seg.compact_keys
        want_compact = (len(ck), gen.row_digest(ck))
        res.check(spark_digest(links, gen.LINK_KEY) == want_links, "link rows")
        res.check(spark_digest(compact, gen.COMPACT_KEY) == want_compact,
                  "compacted rows")
        res.check(spark_digest(read_serving_table(spark, serving),
                               gen.COMPACT_KEY) == want_compact, "serving rows")


def layer_counters(prefix: str, spans: list[dict]) -> dict[str, float]:
    """Median seconds and median per-call Spark counters of one layer's
    spans, under ``prefix``."""
    per = [Counters(**s["counters"]) for s in spans]
    return {
        f"{prefix}.s": median([s["end"] - s["start"] for s in spans]),
        f"{prefix}.stages": median([c.stages for c in per]),
        f"{prefix}.tasks": median([c.tasks for c in per]),
        f"{prefix}.task_cpu_s": median([c.cpu_s for c in per]),
        f"{prefix}.gc_s": median([c.gc_s for c in per]),
        f"{prefix}.shuffle_write_mb": median([c.shuffle_write_mb for c in per]),
        f"{prefix}.spill_mb": median([c.spill_mb for c in per]),
    }


def run(ctx) -> Result:
    res = Result()
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("gen.wat_segment"):
            seg = gen.wat_segment(ctx.seed, os.path.join(ctx.work, "wat"),
                                  N_FILES, PAGES_PER_FILE)
        # the cold pass compiles; it is checked, not measured
        out = os.path.join(ctx.work, "cold")
        build(ctx, seg, out, os.path.join(out, "serving"))
        verify(ctx, res, seg, out, os.path.join(out, "serving"))
        shutil.rmtree(out)
    res.setup_s = time.perf_counter() - t0

    passes: list[float] = []
    out = None
    with ctx.tracer.span("measure"):
        for i in range(max(1, round(ctx.seconds / PASS_S))):
            if out:
                shutil.rmtree(out)
            out = os.path.join(ctx.work, f"pass{i}")
            with ctx.tracer.span("ingest.pass"):
                t = time.perf_counter()
                build(ctx, seg, out, os.path.join(out, "serving"))
                passes.append(time.perf_counter() - t)
    print("ingest passes", [round(p, 2) for p in passes], file=sys.stderr)
    # every pass writes the same rows; the last one is checked
    verify(ctx, res, seg, out, os.path.join(out, "serving"))
    res.e2e["op_ms"] = min(passes) * 1e3

    if ctx.tracer.enabled:
        res.layers.update(_layers(ctx, seg, out, passes))
    shutil.rmtree(out)
    return res


def _layers(ctx, seg: gen.Segment, out: str, passes: list[float]) -> dict:
    """Per-layer metrics of the measured passes, plus each kernel timed
    without its sink on the last pass's files."""
    from globallinks_spark.operators import compact as C
    from globallinks_spark.operators import extract as X
    from globallinks_spark.sources.wat import read_wat_pages

    spark, t = ctx.spark, ctx.tracer
    measured = {s["id"] for s in t.named("ingest.pass")}
    m: dict[str, float] = {}
    calls = {}
    for name in ("runner.run_import", "runner.run_compact", "runner.run_store"):
        calls[name] = [s for s in t.named(name) if s["parent"] in measured]
        m.update(layer_counters(name, calls[name]))
    busy = [sum(c[i]["counters"]["run_s"] for c in calls.values())
            for i in range(len(passes))]
    m["ingest.cpu_util"] = median(
        [b / (4 * w) for b, w in zip(busy, passes)])

    def timed(metric: str, fn) -> None:
        """Time one kernel call inside the span of its layer."""
        with t.span(metric.rsplit(".", 1)[0], counters=True) as s:
            fn()
        m[metric] = s["end"] - s["start"]

    links_dir = os.path.join(out, "links", f"segment={SEGMENT}")
    timed("sources.wat.read_wat_pages.noop_s",
          lambda: _noop(read_wat_pages(spark, seg.paths)))
    parts = []
    timed("operators.extract.auto_dedup_partitions.s",
          lambda: parts.append(X.auto_dedup_partitions(spark, seg.paths)))
    timed("operators.extract.extract_links.noop_s",
          lambda: _noop(X.extract_links(read_wat_pages(spark, seg.paths),
                                        dedup_partitions=parts[0])))
    timed("operators.compact.compact_segment.noop_s",
          lambda: _noop(C.compact_segment(spark.read.parquet(links_dir))))
    n_links = len(seg.link_keys)
    m["operators.extract.links_per_page"] = n_links / seg.n_pages
    m["operators.compact.merge_ratio"] = n_links / len(seg.compact_keys)
    m["sources.serving.files_written"] = len(
        glob.glob(os.path.join(out, "serving", "*", "*.parquet")))
    return m
