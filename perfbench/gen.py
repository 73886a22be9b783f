"""Seeded input generators and the expected results they imply.

Everything here is a pure function of the seed: the same seed writes
byte-identical inputs and predicts the same outputs. The program under
test only ever sees the files and HTTP requests made here.

- ``wat_segment``: one synthetic Common Crawl segment (gzip WAT files)
  with Zipf-popular link targets and a share of re-crawled pages, plus the
  link / compacted row keys the importer must produce from it.
- ``api_schedule``: a Poisson open-loop schedule of ``POST /api/links``
  bodies over the segment's target domains, with a share of invalid ones.
- ``catalog_tables``: the ten tables the query catalog reads.
"""

from __future__ import annotations

import bisect
import datetime as dt
import gzip
import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# helpers


def zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def row_digest(rows) -> int:
    """Order-insensitive digest of string tuples: the sum of each row's
    md5 prefix. The same formula runs in Spark (``spark_digest``), so the
    two sides compare without collecting rows."""
    return sum(
        int(hashlib.md5("\x1f".join(r).encode()).hexdigest()[:15], 16)
        for r in rows
    )


# ---------------------------------------------------------------------------
# ingest: one WAT segment

LINK_KEY = ("link_domain", "link_sub_domain", "link_path", "link_raw_query",
            "page_host", "page_path", "page_raw_query")
COMPACT_KEY = LINK_KEY[:5]

_WORDS = ("data", "spark", "link", "graph", "crawl", "index", "query",
          "table", "merge", "stream", "batch", "vector", "page", "web")
_TLDS = ("com", "org", "net")
_BASE_DATE = dt.date(2023, 3, 1)


@dataclass
class Segment:
    """What one generated segment must turn into."""

    paths: list[str]
    n_pages: int
    link_keys: set[tuple[str, ...]]
    # (domain, sub, scheme) per target; popularity rank = list order
    targets: list[tuple[str, str, str]]

    @property
    def compact_keys(self) -> set[tuple[str, ...]]:
        return {k[:5] for k in self.link_keys}


def _envelope(uri: str, date: str, ip: str, links: list[dict]) -> dict:
    return {"Envelope": {
        "WARC-Header-Metadata": {
            "WARC-Target-URI": uri, "WARC-Date": date,
            "WARC-IP-Address": ip, "WARC-Type": "response",
        },
        "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
            "Head": {"Title": "t", "Metas": [], "Link": []},
            "Links": links,
        }}},
    }}


RECRAWL_SHARE = 0.2      # share of pages that re-crawl an earlier URL
N_TARGETS = 400          # link target domains
N_HOSTS = 60             # crawled hosts


def wat_segment(seed: int, out_dir: str, n_files: int,
                pages_per_file: int) -> Segment:
    """Write ``n_files`` gzip WAT files and return the expected keys.

    Each page carries 12 link entries: 9 external anchors whose target
    domain is Zipf(1.1)-distributed over N_TARGETS domains, plus one
    relative link, one same-host link and one image (all three dropped
    by extraction). A RECRAWL_SHARE of pages re-crawl an earlier URL
    with a later WARC-Date, keeping ~3/4 of its links, so A2 dedup and
    the A5 merge both remove real rows. Every target domain has a fixed
    subdomain and scheme, so a link's URL follows from the API's sort
    keys."""
    rng = random.Random(seed)
    targets = []
    for k in range(N_TARGETS):
        name = f"{rng.choice(_WORDS)}{k}.{_TLDS[k % 3]}"
        targets.append((name, rng.choice(("www", "", "blog")),
                        rng.choice(("https", "http"))))
    hosts = [f"site{h}-{rng.choice(_WORDS)}.{_TLDS[h % 3]}"
             for h in range(N_HOSTS)]
    t_cum = zipf_cum_weights(N_TARGETS, 1.1)
    p_cum = zipf_cum_weights(12, 1.0)

    def pick_link() -> tuple[dict, tuple[str, str, str, str]]:
        dom, sub, scheme = targets[
            bisect.bisect(t_cum, rng.random() * t_cum[-1])]
        path = f"/p/{bisect.bisect(p_cum, rng.random() * p_cum[-1])}"
        r = rng.random()
        # P8: tracking queries are blanked, so they collapse onto ""
        query, raw = ("", "") if r < 0.8 else (
            (f"id={rng.randrange(5)}",) * 2 if r < 0.93
            else ("", "utm_source=feed"))
        host = f"{sub}.{dom}" if sub else dom
        url = f"{scheme}://{host}{path}" + (f"?{raw}" if raw else "")
        entry = {"path": "A@/href", "url": url,
                 "text": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}",
                 "rel": "nofollow" if rng.random() < 0.1 else ""}
        return entry, (dom, sub, path, query)

    os.makedirs(out_dir, exist_ok=True)
    pages: list[tuple[str, str, list]] = []  # (host, path, link picks)
    link_keys: set[tuple[str, ...]] = set()
    paths = []
    n = 0
    for f in range(n_files):
        path = os.path.join(out_dir, f"seg-{f:05d}.warc.wat.gz")
        paths.append(path)
        with gzip.open(path, "wt", encoding="utf-8", compresslevel=1) as out:
            for _ in range(pages_per_file):
                if pages and rng.random() < RECRAWL_SHARE:
                    host, ppath, old = pages[rng.randrange(len(pages))]
                    picks = [p for p in old if rng.random() < 0.75]
                    picks += [pick_link() for _ in range(9 - len(picks))]
                    day = 40 + rng.randrange(60)
                else:
                    host = hosts[rng.randrange(N_HOSTS)]
                    ppath = f"/post/{n}"
                    picks = [pick_link() for _ in range(9)]
                    pages.append((host, ppath, picks))
                    day = rng.randrange(40)
                links = [p[0] for p in picks] + [
                    {"path": "A@/href", "url": f"/rel/{n}", "text": "r", "rel": ""},
                    {"path": "A@/href", "url": f"https://{host}/self",
                     "text": "s", "rel": ""},
                    {"path": "IMG@/src", "url": f"https://{host}/i.png",
                     "text": "", "rel": ""},
                ]
                rng.shuffle(links)
                date = (_BASE_DATE + dt.timedelta(days=day)).isoformat()
                out.write("WARC-Type: metadata\n")
                out.write(json.dumps(_envelope(
                    f"https://{host}{ppath}", f"{date}T08:00:00Z",
                    f"10.{n % 250}.{(n // 250) % 250}.9", links)) + "\n")
                for _, (dom, sub, lpath, query) in picks:
                    link_keys.add((dom, sub, lpath, query, host, ppath, ""))
                n += 1
    return Segment(paths, n, link_keys, targets)


# ---------------------------------------------------------------------------
# api: open-loop request schedule

SORTS = (None, "linkUrl", "pageUrl", "linkText", "dateFrom", "dateTo")
INVALID_SHARE = 0.05     # malformed or invalid requests


@dataclass
class Request:
    due: float          # seconds after the loop starts
    body: bytes
    status: int         # expected HTTP status
    error: str | None   # expected errorCode for non-200
    query: dict | None  # parsed request for the expected-body model


def api_schedule(seed: int, seg: Segment, rate: float, n: int) -> list[Request]:
    """``n`` requests with exponential gaps at ``rate`` per second. Valid
    requests pick a Zipf(1.0)-popular target domain, a sort, an order, a
    page depth and up to two filters; an INVALID_SHARE is malformed
    JSON, a missing domain or an invalid domain, each of which must come
    back as its 400.

    Every random choice is stratified: each attribute draws once from
    each of ``n`` equal slices of [0, 1), in a seeded order. Seeds then
    differ in which request gets which gap, domain and shape, but not in
    the mix, so a run's median does not move with the seed's luck."""
    import math

    rng = random.Random(seed * 7919 + 1)

    def strata():
        u = [(k + rng.random()) / n for k in range(n)]
        rng.shuffle(u)
        return iter(u)

    gap, valid, dom_u, form_u, shape, link_f, nf_f, host_f = (
        strata() for _ in range(8))
    cum = zipf_cum_weights(len(seg.targets), 1.0)
    out, t = [], 0.0
    for _ in range(n):
        t += -math.log(1.0 - next(gap)) / rate
        v, d, form, sh = next(valid), next(dom_u), next(form_u), next(shape)
        lf, nf, hf = next(link_f), next(nf_f), next(host_f)
        if v < INVALID_SHARE:
            out.append([
                Request(t, b'{"domain": ', 400, "ErrorParsing", None),
                Request(t, b'{"limit": 10}', 400, "ErrorNoDomain", None),
                Request(t, b'{"domain": "bad_domain!"}', 400,
                        "ErrorInvalidDomain", None),
            ][rng.randrange(3)])
            continue
        dom, sub, scheme = seg.targets[bisect.bisect(cum, d * cum[-1])]
        domain = (f"{scheme}://{dom}" if form < 0.1
                  else f"{sub}.{dom}" if sub and form < 0.3 else dom)
        # one stratified draw picks the request's shape, sort first:
        # sort x order x limit x page depth (6 x 2 x 3 x 5 cells)
        k = int(sh * 180)
        q = {"domain": domain, "sort": SORTS[k // 30],
             "order": ("asc", "desc")[k // 15 % 2],
             "limit": (10, 25, 100)[k // 5 % 3],
             "page": (1, 1, 1, 2, 3)[k % 5]}
        filters = []
        if lf < 0.3:
            filters.append({"name": "Link Path", "val": str(int(lf / 0.03)),
                            "kind": "any"})
        if nf < 0.15:
            filters.append({"name": "No Follow", "val": "0", "kind": "exact"})
        if hf < 0.1:
            filters.append({"name": "Source Host", "val": f"site{int(hf * 300)}-",
                            "kind": "any"})
        if filters:
            q["filters"] = filters
        out.append(Request(t, json.dumps(q).encode(), 200, None, q))
    return out


# ---------------------------------------------------------------------------
# catalog: the ten tables the query registry reads

_DOC_WORDS = ("the fast key order sort table scan merge part window small "
              "hash join batch stream spark dup group query row data slow "
              "filter customer line value column a big agg vector").split()


CATALOG_SCALE = 0.001    # of TPC-H sf1 row counts


def catalog_tables(seed: int, out_dir: str) -> None:
    """TPC-H-shaped tables plus events/documents/embeddings with the
    column names and types the catalog's builders and oracles expect."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def days(lo: str, hi: str, size: int):
        a = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - a).astype(int)
        return pa.array((a + g.integers(0, span, size)).astype("datetime64[us]"))

    n_cust, n_supp, n_part = (int(n * CATALOG_SCALE)
                              for n in (150_000, 10_000, 200_000))
    n_ord, n_li, n_ev = (int(n * CATALOG_SCALE)
                         for n in (1_500_000, 6_000_000, 1_000_000))
    n_docs, n_emb = 500, 500

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": g.choice(["FURNITURE", "BUILDING", "MACHINERY",
                                  "HOUSEHOLD", "AUTOMOBILE"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2)})
    adj = ["blue", "new", "cold", "hot", "red", "large", "old", "small"]
    noun = ["rod", "gear", "anvil", "ring", "bolt", "widget"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[i % 8]} {noun[(i // 8) % 6]}" for i in g.integers(0, 48, n_part)],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": g.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE",
                            "STANDARD"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": g.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(g.uniform(900, 400_000, n_ord), 2),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(g.uniform(900, 105_000, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100,
        "l_tax": g.integers(0, 9, n_li) / 100,
        "l_returnflag": g.choice(["N", "R", "A"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_li)})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(g.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": g.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(g.uniform(1, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and g.random() < 0.15:   # near-duplicate of an earlier doc
            words = texts[int(g.integers(0, i))].split()
            for _ in range(int(g.integers(0, 3))):
                words[int(g.integers(0, len(words)))] = str(g.choice(_DOC_WORDS))
        else:
            words = list(g.choice(_DOC_WORDS, int(g.integers(8, 95))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": g.choice(["en", "en", "fr", "es", "zh", "de"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 0.1, (10, 64))
    vecs = (centers[labels] + g.normal(0, 0.03, (n_emb, 64))).astype("float32")
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
