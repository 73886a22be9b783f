"""``api`` workload: an open loop of ``POST /api/links`` requests over
localhost HTTP against ``httpapi.make_server`` wrapping
``runner.query_links`` + ``operators.linkdb.to_json_response``, over a
serving table built in set-up from the ``ingest`` generator.

Requests arrive as a seeded Poisson process at ``RATE`` per second from
a separate load-generator process with at most four client threads;
latency runs from each request's due time. Every response is checked:
its status (and error code) against the generator, and for 200s every
row against the same query answered by DuckDB over the serving table's
parquet files.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter

import gen
import ingest
from common import Result, median, percentile

RATE = 2.0               # requests per second
WARM_REQUESTS = 24
LIMIT_MS = 1000.0        # latency limit on p95
PAGES_PER_FILE = 500

# response field(s) whose sequence a sort makes deterministic: a sort
# key ties only rows that share these values
_SORT_FIELDS = {None: ("link_url", "page_url"), "linkUrl": ("link_url",),
                "pageUrl": ("page_url",), "linkText": ("link_text",),
                "dateFrom": ("date_from",), "dateTo": ("date_to",)}
_SORT_COLS = {
    None: ["link_domain", "link_path", "link_raw_query", "page_host",
           "page_path", "page_raw_query", "date_from", "date_to"],
    "linkUrl": ["link_domain", "link_path", "link_raw_query"],
    "pageUrl": ["page_host", "page_path", "page_raw_query"],
    "linkText": ["link_text"], "dateFrom": ["date_from"], "dateTo": ["date_to"],
}


_FIELDS = ("link_url", "page_url", "link_text", "no_follow", "no_index",
           "date_from", "date_to", "ip", "qty")


def _expected(con, q: dict) -> list[tuple[tuple, tuple]]:
    """The request answered by DuckDB: filter, merge and sort, as
    (fields the sort decides, whole row) in the order of the answer,
    over every page."""
    domain = q["domain"].split("://", 1)[-1].lower()
    labels = domain.split(".")
    where = [f"link_domain = '{'.'.join(labels[-2:])}'"]
    if len(labels) > 2:
        where.append(f"link_sub_domain = '{'.'.join(labels[:-2])}'")
    for f in q.get("filters", []):
        col = {"Link Path": "link_path", "Source Host": "page_host"}.get(f["name"])
        if col:
            where.append(f"regexp_matches({col}, '(?i){f['val']}')")
        else:
            where.append(f"no_follow = {int(f['val'])}")
    desc = q["order"] == "desc"
    order = ", ".join(f"{c} {'DESC NULLS LAST' if desc else 'ASC NULLS FIRST'}"
                      for c in _SORT_COLS[q["sort"]])
    sql = f"""
    WITH r AS (
      SELECT *,
        CASE WHEN link_scheme = '1' THEN 'http' ELSE 'https' END || '://' ||
        CASE WHEN link_sub_domain = '' THEN link_domain
             ELSE link_sub_domain || '.' || link_domain END ||
        link_path || CASE WHEN link_raw_query = '' THEN ''
                          ELSE '?' || link_raw_query END AS link_url,
        CASE WHEN page_scheme = '1' THEN 'http' ELSE 'https' END || '://' ||
        page_host || page_path || CASE WHEN page_raw_query = '' THEN ''
                                       ELSE '?' || page_raw_query END AS page_url
      FROM serving WHERE {' AND '.join(where)}
    ), m AS (
      SELECT link_url, page_url, link_text, no_follow,
        first(no_index ORDER BY date_from, date_to) AS no_index,
        strftime(min(date_from), '%Y-%m-%d') AS date_from,
        strftime(max(date_to), '%Y-%m-%d') AS date_to,
        list_sort(list(DISTINCT ip) FILTER (ip IS NOT NULL)) AS ip, CAST(sum(qty) AS INTEGER) AS qty,
        min(link_domain) AS link_domain, min(link_path) AS link_path,
        min(link_raw_query) AS link_raw_query, min(page_host) AS page_host,
        min(page_path) AS page_path, min(page_raw_query) AS page_raw_query
      FROM r GROUP BY link_url, page_url, link_text, no_follow
    )
    SELECT {', '.join(_FIELDS)} FROM m ORDER BY {order}"""
    keys = [_FIELDS.index(f) for f in _SORT_FIELDS[q["sort"]]]
    return [(tuple(row[i] for i in keys), _row(row))
            for row in con.sql(sql).fetchall()]


def _row(values) -> tuple:
    """A response row as a comparable tuple; the ip list becomes a tuple."""
    return tuple(tuple(v) if isinstance(v, list) else v for v in values)


def _check(res: Result, req: gen.Request, want, got: dict) -> int | None:
    """Check one response; its row count, or None when it is wrong.

    The sort decides the sequence of its fields on the page exactly.
    Rows that tie on them may come in any order, so each tie group on the
    page must be drawn from the same group of the whole answer; a group
    that lies wholly inside the page must match it row for row."""
    if got["status"] != req.status:
        return res.check(False, f"{got['rid']}: status {got['status']}")
    try:
        body = json.loads(got["body"])
    except ValueError:
        return res.check(False, f"{got['rid']}: body is not JSON")
    if req.status != 200:
        return res.check(body.get("errorCode") == req.error,
                         f"{got['rid']}: {body}", 0)
    q = req.query
    offset = (q["page"] - 1) * q["limit"]
    page = want[offset:offset + q["limit"]]
    fields = _SORT_FIELDS[q["sort"]]
    rows = [(tuple(r.get(f) for f in fields), _row(r.get(f) for f in _FIELDS))
            for r in body]
    ok = [k for k, _ in rows] == [k for k, _ in page]
    if ok:
        groups = Counter(k for k, _ in page)
        pool = Counter(row for row in want if row[0] in groups)
        ok = not Counter(rows) - pool
    return res.check(ok, f"{got['rid']}: body differs from the expected page",
                     len(body))


class Server:
    """The package's HTTP server on an ephemeral port, serving from a
    background thread; each POST runs inside an ``httpapi.request`` span
    tagged with the client's request id."""

    def __init__(self, ctx, serving: str, n_requests: int) -> None:
        from globallinks_spark.httpapi import RateLimiter, make_server
        from globallinks_spark.operators.linkdb import to_json_response
        from globallinks_spark.runner import query_links

        tracer, spark = ctx.tracer, ctx.spark

        def query_fn(q):
            with tracer.span("runner.query_links"):
                df = query_links(spark, serving, q)
            with tracer.span("operators.linkdb.to_json_response"):
                return to_json_response(df)

        # every client is 127.0.0.1: the limit sits above the run's
        # request count so the limiter runs on each request but never trips
        self.srv = make_server(query_fn, port=0,
                               limiter=RateLimiter(limit=n_requests + 1))
        base = self.srv.RequestHandlerClass

        class Handler(base):
            def do_POST(self):  # noqa: N802
                with tracer.span("httpapi.request",
                                 rid=self.headers.get("X-Request-Id")):
                    super().do_POST()

        self.srv.RequestHandlerClass = Handler
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)


def _drive(ctx, port: int, reqs: list[gen.Request], tag: str) -> list[dict]:
    """Run one schedule through the load-generator process."""
    sched = os.path.join(ctx.work, f"{tag}-schedule.json")
    out = os.path.join(ctx.work, f"{tag}-results.json")
    with open(sched, "w") as f:
        json.dump([{"rid": f"{tag}{i}", "due": r.due, "body": r.body.decode()}
                   for i, r in enumerate(reqs)], f)
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, os.path.join(here, "loadgen.py"), sched,
                    str(port), out], check=True, timeout=170)
    with open(out) as f:
        return json.load(f)


def run(ctx) -> Result:
    import duckdb

    res = Result()
    n = int(round(RATE * ctx.seconds))
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("gen.wat_segment"):
            seg = gen.wat_segment(ctx.seed, os.path.join(ctx.work, "wat"),
                                  ingest.N_FILES, PAGES_PER_FILE)
        out = os.path.join(ctx.work, "data")
        serving = os.path.join(out, "serving")
        ingest.build(ctx, seg, out, serving)
        # warm-up: all due at once, so four clients run back to back
        warm = gen.api_schedule(ctx.seed + 1, seg, 1e6, WARM_REQUESTS)
        reqs = gen.api_schedule(ctx.seed, seg, RATE, n)
        with ctx.tracer.span("expected"):
            con = duckdb.connect()
            con.sql(f"CREATE VIEW serving AS SELECT * FROM read_parquet("
                    f"'{serving}/domain_bucket=*/*.parquet', hive_partitioning = true)")
            want = [_expected(con, r.query) if r.query else None
                    for r in warm + reqs]
            con.close()
        server = Server(ctx, serving, n + WARM_REQUESTS)
    try:
        with ctx.tracer.span("setup"):
            warm_got = _drive(ctx, server.port, warm, "w")
        res.setup_s = time.perf_counter() - t0
        with ctx.tracer.span("measure"):
            mark = ctx.stats.mark()
            got = _drive(ctx, server.port, reqs, "m")
            window = ctx.stats.since(mark)
    finally:
        server.close()

    with ctx.tracer.span("check"):
        for r, w, g in zip(warm, want, warm_got):
            _check(res, r, w, g)
        rows = {g["rid"]: _check(res, r, w, g)
                for r, w, g in zip(reqs, want[len(warm):], got)}
    print("api latencies", [round(g["latency_ms"]) for g in got], file=sys.stderr)
    res.e2e["op_ms"] = median([g["latency_ms"] for g in got])
    if ctx.tracer.enabled:
        res.layers.update(_layers(ctx, reqs, got, window, rows))
    return res


def _layers(ctx, reqs, got, window, rows: dict) -> dict:
    t = ctx.tracer
    lat = [g["latency_ms"] for g in got]
    # a failed or wrong answer misses the limit whatever its latency
    n_ok = sum(1 for g in got
               if rows[g["rid"]] is not None and g["latency_ms"] <= LIMIT_MS)
    measured = {s["rid"] for s in t.named("httpapi.request")
                if s["rid"] and s["rid"].startswith("m")}
    spark_ms: dict[str, float] = {}
    for name in ("runner.query_links", "operators.linkdb.to_json_response"):
        for s in t.named(name):
            if s["rid"] in measured:
                spark_ms[s["rid"]] = spark_ms.get(s["rid"], 0.0) + (
                    s["end"] - s["start"]) * 1e3
    n_spark = max(1, len(spark_ms))

    def p50(name):
        return median([(s["end"] - s["start"]) * 1e3 for s in t.named(name)
                       if s["rid"] in measured])

    return {
        "api.p95_ms": percentile(lat, 95),
        "api.within_limit_frac": n_ok / len(got),
        "api.requests": len(got),
        "api.generator_lag_p99_ms": percentile(
            [g["lag_ms"] for g in got], 99),
        "runner.query_links.p50_ms": p50("runner.query_links"),
        "operators.linkdb.to_json_response.p50_ms":
            p50("operators.linkdb.to_json_response"),
        "httpapi.overhead_p50_ms": median(
            [g["service_ms"] - spark_ms[g["rid"]] for g in got
             if g["rid"] in spark_ms]),
        "api.jobs_per_request": window.jobs / n_spark,
        "api.tasks_per_request": window.tasks / n_spark,
        "sources.serving.rows_examined_per_row_returned":
            window.input_records / max(1, sum(n or 0 for n in rows.values())),
    }
