"""``catalog`` workload: passes over a fixed slice of
``queries.REGISTRY`` on seeded tables, each entry built with
``spec.fn(spark, dir)`` and sunk with a ``noop`` write, in registry
order, with no ``clearCache()`` between entries. The operation is one
whole pass; the run makes one measured pass per PASS_S of its seconds
and reports the fastest, because the first pass after the set-up one is
still compiling.

The slice is one entry per catalog layer (ENTRIES) because a pass over
all 50 entries takes ~50 s warm and ~80 s cold on four cores, which does
not fit the run budget. The set-up pass collects every entry
instead of sinking it and checks its rows against the entry's DuckDB
oracle, where it has one, or for a non-empty result.
"""

from __future__ import annotations

import math
import os
import sys
import time

import gen
from common import Result, median

ENTRIES = (
    # name in REGISTRY            layer it loads
    "compaction_merge",         # operators.compact (batch A5 merge)
    "api_query",                # operators.linkdb (merge/sort/paginate)
    "dedup_minhash_lsh",        # operators.dedup, functions.hashing
    "embedding_cosine_topk",    # operators.similarity, functions.vectors
    "lang_id",                  # operators.corpus, functions.text
    "pagerank",                 # operators.graph
    "asof_join",                # queries_join, operators.rangejoin
    "streaming_window",         # streaming
)
PASS_S = 5.0             # about one warm pass on four cores


def _norm(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row list (floats to 6
    places), as the driver's oracle gate compares."""
    cols = sorted(pdf.columns)

    def cell(v):
        if isinstance(v, float) and not math.isnan(v):
            return "%.6f" % v
        return str(v)

    return sorted(tuple(cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))


def _check_pass(ctx, res: Result, specs, data: str) -> None:
    """Build and collect every entry; compare with its DuckDB oracle."""
    import duckdb
    from globallinks_spark.queries_base import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')")
    for name, spec in specs:
        with ctx.tracer.span(f"catalog.{name}.check"):
            got = spec.fn(ctx.spark, data).toPandas()
        if spec.oracle is None:
            res.check(len(got) > 0, f"{name}: empty result")
        else:
            want = con.sql(spec.oracle).df()
            res.check(_norm(got) == _norm(want), f"{name}: differs from oracle")
    con.close()


def _pass(ctx, res: Result, specs, data: str, times: dict) -> float:
    t_pass = time.perf_counter()
    for name, spec in specs:
        with ctx.tracer.span(f"catalog.{name}"):
            t = time.perf_counter()
            try:
                with ctx.tracer.span("catalog.build", counters=True):
                    df = spec.fn(ctx.spark, data)
                with ctx.tracer.span("catalog.sink", counters=True):
                    df.write.format("noop").mode("overwrite").save()
                res.check(True, name)
            except Exception as e:  # an entry that raises is a failed op
                res.check(False, f"{name}: {e!r}")
            times.setdefault(name, []).append(time.perf_counter() - t)
    return time.perf_counter() - t_pass


def run(ctx) -> Result:
    from globallinks_spark.queries import REGISTRY

    res = Result()
    specs = [(n, REGISTRY[n]) for n in ENTRIES]
    data = os.path.join(ctx.work, "tables")
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("gen.catalog_tables"):
            gen.catalog_tables(ctx.seed, data)
        _check_pass(ctx, res, specs, data)
    res.setup_s = time.perf_counter() - t0

    times: dict[str, list[float]] = {}
    passes: list[float] = []
    with ctx.tracer.span("measure"):
        for _ in range(max(1, round(ctx.seconds / PASS_S))):
            with ctx.tracer.span("catalog.pass"):
                passes.append(_pass(ctx, res, specs, data, times))
    print("catalog passes", [round(p, 2) for p in passes], file=sys.stderr)
    res.e2e["op_ms"] = min(passes) * 1e3
    if ctx.tracer.enabled:
        res.layers.update(_layers(ctx, times, passes))
    return res


def _layers(ctx, times: dict, passes: list[float]) -> dict:
    """Per-entry medians, and per-pass sums of the build and sink spans'
    time and counters."""
    t, n = ctx.tracer, len(passes)
    build, sink = t.named("catalog.build"), t.named("catalog.sink")

    def per_pass(spans, key=None) -> float:
        return sum(s["end"] - s["start"] if key is None else s["counters"][key]
                   for s in spans) / n

    m = {f"catalog.{name}.s": median(v) for name, v in times.items()}
    m["catalog.build_s"] = per_pass(build)
    m["catalog.sink_s"] = per_pass(sink)
    m["catalog.build_frac"] = m["catalog.build_s"] / (
        m["catalog.build_s"] + m["catalog.sink_s"])
    for name, key in (("stages", "stages"), ("tasks", "tasks"),
                      ("task_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                      ("shuffle_write_mb", "shuffle_write_mb"),
                      ("spill_mb", "spill_mb")):
        m[f"catalog.{name}"] = per_pass(build + sink, key)
    m["catalog.cpu_util"] = per_pass(build + sink, "run_s") / (4 * median(passes))
    m["catalog.persisted_rdds_after"] = ctx.stats.persisted_rdds()
    return m
