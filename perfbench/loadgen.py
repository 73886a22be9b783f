"""Open-loop HTTP load generator, run as its own process by the ``api``
workload:

    python3 loadgen.py SCHEDULE.json PORT RESULTS.json

SCHEDULE.json is a list of ``{"rid", "due", "body"}``. Each request is
handed to one of at most ``THREADS`` client threads at its due time,
whether or not earlier requests have finished. Per request the results
record the status, the body, the latency from the due time, the
service time from the send, and how late the dispatcher handed it over.
"""

from __future__ import annotations

import http.client
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

THREADS = 4


def _send(port: int, req: dict, due_at: float, lag_s: float) -> dict:
    sent = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("POST", "/api/links", body=req["body"].encode(),
                         headers={"Content-Type": "application/json",
                                  "X-Request-Id": req["rid"]})
            resp = conn.getresponse()
            status, body = resp.status, resp.read().decode()
        finally:
            conn.close()
    except OSError as e:
        status, body = -1, repr(e)
    done = time.perf_counter()
    return {"rid": req["rid"], "status": status, "body": body,
            "latency_ms": (done - due_at) * 1e3,
            "service_ms": (done - sent) * 1e3, "lag_ms": lag_s * 1e3}


def main() -> int:
    schedule_path, port, out_path = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    with open(schedule_path) as f:
        schedule = json.load(f)
    futures = []
    with ThreadPoolExecutor(THREADS) as pool:
        start = time.perf_counter() + 0.05
        for req in schedule:
            due_at = start + req["due"]
            wait = due_at - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            lag = time.perf_counter() - due_at
            futures.append(pool.submit(_send, port, req, due_at, lag))
        results = [f.result() for f in futures]
    with open(out_path, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
