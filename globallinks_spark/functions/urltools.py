"""URL & domain kernel — P1-P11 of the operator inventory (SURVEY §2.2).

Everything is a Column expression, including ``etld_plus_one``: the
public-suffix computation (reference: golang.org/x/net/publicsuffix via
/root/reference/pkg/commoncrawl/wat.go:660-672) evaluates the FULL
bundled Mozilla PSL snapshot (~9.5k rules, ``functions/psl.py``) as a
short when-chain of Catalyst ``InSet`` hash-probes — one per distinct
suffix length, longest first — so it runs inside whole-stage codegen
with no Python worker. ``etld_plus_one_udf`` is the same algorithm as a
pandas UDF (per-worker memo cache, the analogue of the reference's
domainCache, wat.go:139-143); it exists for API parity and as the
cross-check in tests, not for the hot path.

Semantics cited into the reference:
- URL parse + host normalize + default path: buildURLRecord wat.go:623-678
- scheme encode http→"1" https→"2" else "0":  setScheme  wat.go:821-829
- subdomain = host minus "."+domain:          genSubdomain wat.go:953-962
- tracking-query blank-out:                   ignoreQuery  wat.go:726-733
- URL reconstruction for API output:          pkg/linkdb/controller.go:201-265
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from globallinks_spark.config import IGNORED_QUERY_PREFIXES
from globallinks_spark.functions import psl

# ---------------------------------------------------------------------------
# Public-suffix kernel. Rule data + the pure-Python spec live in
# functions/psl.py (full bundled Mozilla snapshot, ~9.5k rules). The
# names below are the stable test surface.

_PSL_RULES: frozenset[str] = psl.RULES


def _psl_suffix_len(labels: list[str]) -> int:
    """Number of labels in the public suffix of ``labels`` per PSL rules."""
    return psl.suffix_len(labels)


def _etld1_one(host: str) -> str | None:
    return psl.etld_plus_one_py(host)


@F.pandas_udf(T.StringType())
def etld_plus_one_udf(host: pd.Series) -> pd.Series:
    """Registrable domain (eTLD+1) of an already-lowercased host; null when
    the host has none (unparseable / bare public suffix) — the reference
    drops those rows (wat.go:662-666 error path).

    Same full-PSL algorithm as the JVM expression below (``psl.py`` is
    the shared spec; its lru_cache is the analogue of the reference's
    domainCache). Kept for API parity and as the cross-check in
    tests/test_psl_properties.py — the hot path uses ``etld_plus_one``,
    because a per-link Python round trip dominated extraction cost
    (measured 13× below the reference's pages/min baseline with the UDF,
    see bench_extract.py)."""
    return host.map(_etld1_one, na_action="ignore")


# Memoized Column trees. A Column that references only column names and
# module constants is plan-independent: since Spark 4.0 a Column is a
# ColumnNode that Spark converts into a Catalyst expression separately
# for every plan that uses it (fresh expression ids each time, aliases
# included), and the py4j objects behind it live as long as the
# gateway, i.e. the whole process. This is why pyproject.toml requires
# pyspark>=4.0: on 3.5 a Column wraps a finished Catalyst expression
# whose Alias ids are fixed when it is built, so a cached aliased
# Column would repeat its ids across plans and within one plan. Building these trees is all py4j round
# trips (~9.5k PSL literals alone cost ~1 s), so every builder below is
# memoized per process with ``functools.cache``. Only Columns are cached,
# never a DataFrame: a DataFrame pins its SparkSession, so a cache of
# frames would keep stopped sessions alive.


@functools.cache
def _psl_lits(values: frozenset[str]) -> tuple[Column, ...]:
    return tuple(F.lit(v) for v in sorted(values))


@functools.cache
def _col(name: str) -> Column:
    """The column called ``name``, quoted so dots stay part of the name."""
    return F.col("`" + name.replace("`", "``") + "`")


def _etld_expr_parts(
    host: Column,
    big_markers: dict[int, Column] | None = None,
    labels: Column | None = None,
) -> Column:
    """The eTLD+1 Column tree over ``host``.

    ``big_markers`` maps a suffix length s to a boolean Column that is
    true when the host's length-s suffix is an exact rule of that
    length — supplied by ``with_registrable_domain``'s broadcast joins
    for the two lengths whose rule sets are large (5,771 two-label and
    2,309 three-label rules). Lengths not in the dict probe an inline
    ``InSet`` instead (fine for the remaining ~250 rules; pathological
    for thousands: a ~9.5k-literal tree bloats every task binary and
    generates methods the JIT takes tens of seconds to converge on).
    """
    big_markers = big_markers or {}
    if labels is None:
        # strip leading/trailing dots before splitting — the pure-Python
        # spec does (psl.etld_plus_one_py), and without it a trailing dot
        # ('example.com.') adds an empty label, every suffix probe
        # misses, and the expression emits 'com.' instead of the spec's
        # 'example.com'
        labels = F.split(F.regexp_replace(host, r"^\.+|\.+$", ""), r"\.")
    n = F.size(labels)

    def suffix(k: int) -> Column:
        # greatest(start, 1) keeps the slice ANSI-legal for hosts with
        # fewer than k labels (start 0 is an error); the (n >= k) term in
        # every consumer makes the clamped value semantically inert. The
        # clamp matters because codegen subexpression elimination may
        # hoist these probes onto the guaranteed-evaluation path.
        start = F.greatest(n - F.lit(k - 1), F.lit(1))
        return F.concat_ws(".", F.slice(labels, start, k))

    def probe(s: int) -> Column | None:
        out: Column | None = None
        if s in big_markers:
            out = big_markers[s]
        elif s in psl.EXACT_BY_LEN:
            out = suffix(s).isin(*_psl_lits(psl.EXACT_BY_LEN[s]))
        if s - 1 in psl.TAILS_BY_LEN:
            wild = suffix(s - 1).isin(*_psl_lits(psl.TAILS_BY_LEN[s - 1]))
            out = wild if out is None else (out | wild)
        if out is None:
            return None
        return (n >= s) & out

    # longest-match suffix length, branch-free: greatest() over one
    # when(cond, s) per rung keeps every rung's condition on codegen's
    # guaranteed-evaluation path, so the split/slice/concat subtrees are
    # computed once per row and shared (a when-CHAIN puts rungs 2..k on
    # the conditional path, where subexpression elimination is disabled —
    # measured ~9 µs/row vs ~1 µs/row for this shape).
    rungs = [
        F.when(p, F.lit(s))
        for s in range(psl.MAX_SUFFIX_LEN, 1, -1)
        if (p := probe(s)) is not None
    ]
    g = F.greatest(*rungs, F.lit(1)) if rungs else F.lit(1)

    # exception rules prevail over any longer match (PSL spec); applied
    # as arithmetic select so nothing drops to the conditional path
    slen: Column = g
    for k in sorted(psl.EXCEPTIONS_BY_LEN):
        exc = (
            (n >= k)
            & suffix(k).isin(*_psl_lits(psl.EXCEPTIONS_BY_LEN[k]))
        ).cast("int")
        slen = exc * F.lit(k - 1) + (F.lit(1) - exc) * slen

    start = F.greatest(n - slen, F.lit(1))  # ANSI clamp, as above
    out = F.concat_ws(".", F.slice(labels, start, slen + F.lit(1)))
    return F.when(
        host.isNull() | (host == "") | ~host.contains(".") | (n <= slen),
        F.lit(None).cast("string"),
    ).otherwise(out)


@functools.cache
def _suffix_rule_columns(k: int) -> tuple[Column, Column]:
    """(rule, marker) columns of the length-k broadcast rule table. The
    rules travel as one ~80 KB string literal split JVM-side: row-by-row
    createDataFrame of the 5.8k-rule table costs ~2.5 s of py4j
    serialization (measured); this is one literal, and the split/explode
    runs in the JVM."""
    packed = "|".join(sorted(psl.EXACT_BY_LEN[k]))
    return (
        F.explode(F.split(F.lit(packed), r"[|]")).alias(f"__psl_s{k}"),
        F.lit(True).alias(f"__psl_m{k}"),
    )


def _suffix_df(spark, k: int):
    # built per call: the frame belongs to ``spark`` (see the note on
    # memoized Column trees above); its Columns are the cached part
    return spark.range(1).select(*_suffix_rule_columns(k))


@functools.cache
def _registrable_domain_columns(
    host_col: str, out_col: str, bind: bool
) -> tuple[Column, tuple[Column, Column], Column]:
    """(bound label split, the two join-key suffixes, eTLD+1 output) of
    ``with_registrable_domain``. The trees reference only ``host_col``
    and the fixed ``__psl_*`` names; the output tree alone costs ~2.5 s
    of py4j round trips to build (measured)."""
    from globallinks_spark.functions.binding import bind_once

    host = F.col(host_col)
    # Bind the label split ONCE behind the optimization barrier: the
    # suffix probes, the join keys, and the final slice all reference the
    # bound attribute, so the split appears once in the plan instead of
    # ~90× (CollapseProject re-inlines deterministic aliases into every
    # reference; measured the duplication doubles Janino compile time).
    # Dot-strip before split: parity with psl.etld_plus_one_py on hosts
    # with leading/trailing dots (see _etld_expr_parts).
    split = bind_once(
        F.split(F.regexp_replace(host, r"^\.+|\.+$", ""), r"\.")
    )
    labels = F.col("__psl_labels")
    n = F.size(labels)

    def suffix(k: int) -> Column:
        start = F.greatest(n - F.lit(k - 1), F.lit(1))
        return F.concat_ws(".", F.slice(labels, start, k)).alias(f"__psl_s{k}")

    markers = {
        2: F.col("__psl_m2").isNotNull(),
        3: F.col("__psl_m3").isNotNull(),
    }
    out = _etld_expr_parts(host, big_markers=markers, labels=labels)
    if bind:
        # pipelines with many downstream consumers (classification,
        # dedup keys, filters) must bind the domain behind the
        # optimization barrier, or CollapseProject/pushdown re-inlines
        # the whole tree per reference (measured 1,110 split() copies in
        # the extraction plan without it). Batch-only barrier.
        out = bind_once(out)
    return (
        split.alias("__psl_labels"), (suffix(2), suffix(3)), out.alias(out_col)
    )


def with_registrable_domain(
    df: "DataFrame", host_col: str, out_col: str, bind: bool = False
) -> "DataFrame":
    """eTLD+1 as a broadcast-join transform — the 100 TB hot path.

    The inline-expression form (``etld_plus_one``) embeds ~9.5k string
    literals in the plan: every task binary carries the serialized sets
    (~1.8 MB), generated methods balloon, and HotSpot needs tens of
    seconds of C2 time per stage to reach steady state — measured 2×
    end-to-end extraction slowdown even warm. This form moves the two
    big rule sets (two- and three-label exact rules) into broadcast hash
    joins: the host's length-2 and length-3 suffixes are computed once,
    left-joined against ~8 k-row broadcast tables (map-side, no
    shuffle, no row multiplication — rule tables are distinct), and the
    remaining ~250 rules (4/5-label exacts, wildcard tails, exceptions)
    stay as small inline ``InSet`` probes. Per-row cost: one split, two
    broadcast-hash probes, ~6 small set probes.

    Reference semantics: publicsuffix.EffectiveTLDPlusOne
    (wat.go:660-672); parity with the pure-Python spec is pinned by
    tests/test_psl_full.py.
    """
    split, suffixes, domain = _registrable_domain_columns(
        host_col, out_col, bind
    )
    spark = df.sparkSession
    names = df.columns
    # the input's columns in place (out_col replaced if present) plus
    # the domain: the four __psl_* helpers drop out in the same Project
    keep = [domain if c == out_col else _col(c) for c in names]
    if out_col not in names:
        keep.append(domain)
    return (
        df.select("*", split)
        .select("*", *suffixes)
        .join(F.broadcast(_suffix_df(spark, 2)), on="__psl_s2", how="left")
        .join(F.broadcast(_suffix_df(spark, 3)), on="__psl_s3", how="left")
        .select(*keep)
    )


_SIMPLE_COL_RE = re.compile(r"^Column<'([A-Za-z_][A-Za-z0-9_]*)'>$")


@functools.cache
def _etld_expr_for(name: str) -> Column:
    return _etld_expr_parts(F.col(name))


def etld_plus_one(host: Column) -> Column:
    """P3 as a pure Column expression over the FULL bundled PSL — same
    semantics as ``etld_plus_one_udf``, evaluated inside whole-stage
    codegen (no Python worker, no Arrow transfer).

    Shape: one ``InSet`` hash-probe per distinct suffix length (exact
    rules of length s merged with wildcard tails of length s-1, both
    yielding suffix length s), combined longest-match-first via a
    branch-free ``greatest``; the 8 exception rules override via an
    arithmetic select (per the PSL spec they prevail over longer
    matches). ~10 set probes per row total, each O(1): Catalyst converts
    ``isin`` over >400 literals into a hash-set ``InSet``, so rule count
    does not affect per-row cost, and the branch-free shape keeps every
    subtree eligible for codegen subexpression elimination (the host is
    split exactly once per row).
    """
    # built trees are memoized per *simple column name*; complex inputs
    # fall through to a fresh build — hot paths bind the host to an
    # attribute first (operators/extract.py does; see also q_url_parse)
    m = _SIMPLE_COL_RE.match(str(host))
    if m is None:
        return _etld_expr_parts(host)
    return _etld_expr_for(m.group(1))


# ---------------------------------------------------------------------------
# Column expression builders (P1-P11). All pure ``F.*`` — codegen'd JVM-side.

def url_scheme(url: Column) -> Column:
    """Raw scheme token of a URL ('' for scheme-relative // links)."""
    return F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)


def scheme_code(scheme: Column) -> Column:
    """P2 — http→'1', https→'2', else '0' (wat.go:821-829)."""
    return (
        F.when(F.lower(scheme) == "https", F.lit("2"))
        .when(F.lower(scheme) == "http", F.lit("1"))
        .otherwise(F.lit("0"))
    )


def decode_scheme(code: Column) -> Column:
    """Inverse of ``scheme_code`` for API URL reconstruction. NOTE the
    reference decoder maps '0'→https (controller.go:239-244, a lossy
    round-trip); we keep that quirk for output parity."""
    return F.when(code == "1", F.lit("http")).otherwise(F.lit("https"))


def _parseable(url: Column) -> Column:
    """URL rewritten so Spark's parse_url accepts scheme-relative links:
    '//host/x' (accepted by the reference, wat.go:509) gets a temporary
    http: prefix — the scheme code is computed from the raw string first."""
    return F.when(url.startswith("//"), F.concat(F.lit("http:"), url)) \
            .otherwise(url)


def url_host(url: Column) -> Column:
    """P1 — lowercased, trimmed host (buildURLRecord, wat.go:644-645)."""
    return F.lower(F.trim(F.parse_url(_parseable(url), F.lit("HOST"))))


def url_path(url: Column) -> Column:
    """P1 — path with '' defaulted to '/' (wat.go:646-648)."""
    p = F.parse_url(_parseable(url), F.lit("PATH"))
    return F.when((p.isNull()) | (p == ""), F.lit("/")).otherwise(p)


def url_raw_query(url: Column, blank_ignored: bool = True) -> Column:
    """P1 + P8 — raw query, '' when absent; tracking prefixes blanked
    (ignoreQuery wat.go:726-733; prefix list config.go:199-203)."""
    q = F.coalesce(F.parse_url(_parseable(url), F.lit("QUERY")), F.lit(""))
    if blank_ignored:
        pat = "^(" + "|".join(IGNORED_QUERY_PREFIXES) + ")"
        q = F.when(q.rlike(pat), F.lit("")).otherwise(q)
    return q


def url_fragment(url: Column) -> Column:
    return F.coalesce(F.parse_url(_parseable(url), F.lit("REF")), F.lit(""))


def subdomain(host: Column, domain: Column) -> Column:
    """P4 — host minus '.'+domain; '' when host == domain
    (genSubdomain, wat.go:953-962)."""
    trimmed = F.substring(
        host, F.lit(1), F.length(host) - F.length(domain) - F.lit(1)
    )
    return F.when(host == domain, F.lit("")).otherwise(
        F.when(host.endswith(F.concat(F.lit("."), domain)), trimmed)
        .otherwise(host)
    )


def scrub_delimiter(text: Column) -> Column:
    """P7 — '|' → ' ' in free text (Title wat.go:334, LinkText wat.go:355).
    Only needed for pipe-text interchange; harmless on parquet."""
    return F.regexp_replace(text, r"\|", " ")


def reconstruct_url(
    scheme_col: Column, sub: Column, domain: Column,
    path: Column, query: Column,
) -> Column:
    """P10 — scheme://[sub.]domain[path][?query] for API output
    (controller.go:201-211, 246-265)."""
    host = F.when(sub == "", domain).otherwise(F.concat_ws(".", sub, domain))
    q = F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query))
    return F.concat(decode_scheme(scheme_col), F.lit("://"), host, path, q)


def wat_file_number(path: Column) -> Column:
    """P11 — the NNNNN in '...-NNNNN.warc.wat.gz'
    (ExtractWatFileNumber, wat.go:832-846)."""
    return F.regexp_extract(path, r"-(\d+)\.warc\.wat\.gz$", 1)
