"""WAT archive source (S3 + S4 of SURVEY §2.1).

The reference streams each ``.warc.wat.gz`` with a 5 MiB line buffer and
assembles 2-line records — a ``WARC-Target-URI`` header line plus a JSON
envelope line (/root/reference/pkg/commoncrawl/wat.go:249-394). In Spark the
same data arrives as ``spark.read.text`` (gzip transparently decoded, one
task per WAT file — the unit of parallelism the reference gets from one
goroutine per file, cmd/importer/main.go:272-291). Record assembly is
unnecessary: the target URI is also inside the JSON envelope
(``Envelope.WARC-Header-Metadata.WARC-Target-URI``), so we parse only JSON
lines with an explicit schema — ``from_json`` with the ~10 needed paths is
the columnar analogue of the reference's gjson path extraction
(readPageContent, wat.go:397-445; SURVEY §4 X4/X8).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from globallinks_spark.functions.binding import bind_once
from globallinks_spark.schemas import WAT_ENVELOPE_SCHEMA


def read_wat_pages(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per crawled page: (target_uri, warc_date, warc_ip, title,
    metas, head_links, links) — links still nested, exploded downstream.

    ``ignoreCorruptFiles`` is set on THIS read (not session-wide): over
    90k downloaded gzips some will be truncated, and one bad file must
    not kill a 22-wave import — the reference logs the parse error and
    moves to the next file (cmd/importer/main.go:257-263). Lines read
    before the corruption point still parse (same as the reference,
    which processes a WAT line-by-line until the error). Session-wide
    the flag would also mask genuine corruption in our OWN parquet
    output, so it stays scoped to the untrusted input.
    """
    return wat_pages_from_lines(
        spark.read.option("ignoreCorruptFiles", "true").text(paths)
    )


def wat_pages_from_lines(raw: DataFrame) -> DataFrame:
    """The line-frame → page-frame transform behind ``read_wat_pages``,
    factored out so the incremental import's foreachBatch (which receives
    the text lines as a batch DataFrame) applies the identical plan.

    The string-level filter runs before ``from_json`` so non-record lines
    never pay JSON parsing (the reference's early-filter ordering, SURVEY
    §4 X3 — Catalyst keeps both filters in one WholeStageCodegen stage).
    """
    line_gate, envelope, page_cols, page_gate = _page_frame_columns()
    env = raw.filter(line_gate).select(envelope).select("e.Envelope.*")
    return env.select(*page_cols).filter(page_gate)


@functools.cache
def _page_frame_columns() -> tuple[Column, Column, tuple[Column, ...], Column]:
    """(line gate, bound envelope parse, page columns, page gate) of
    ``wat_pages_from_lines``, built once per process — they reference
    only column names and the fixed envelope schema (see the note on
    memoized Column trees in functions/urltools.py)."""
    # Cheap pre-parse gate, mirroring the reference's line filter: a
    # record line starts with '{' and must mention href at all to carry
    # links (wat.go:321 `strings.HasPrefix(line, "{") &&
    # strings.Contains(line, "href")`).
    value = F.col("value")
    line_gate = value.startswith("{") & value.contains("href")
    # bind_once: without it, every downstream predicate that Catalyst
    # pushes below the flatten carries its own from_json(value) copy —
    # re-parsing the envelope per predicate per row (see
    # functions/binding.py). The line-level gate is the only filter that
    # belongs below the parse, and it is already applied.
    envelope = bind_once(F.from_json("value", WAT_ENVELOPE_SCHEMA)).alias("e")
    meta = F.col("`WARC-Header-Metadata`")
    html = F.col(
        "`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"
    )
    page_cols = (
        meta.getField("WARC-Target-URI").alias("target_uri"),
        meta.getField("WARC-Date").alias("warc_date"),
        meta.getField("WARC-IP-Address").alias("warc_ip"),
        html.getField("Head").getField("Title").alias("title"),
        html.getField("Head").getField("Metas").alias("metas"),
        html.getField("Head").getField("Link").alias("head_links"),
        html.getField("Links").alias("links"),
    )
    page_gate = F.col("target_uri").isNotNull() & F.col("links").isNotNull()
    return line_gate, envelope, page_cols, page_gate


def segment_of_path(path_col) -> "F.Column":
    """Derive the segment id from a Common Crawl WAT path — element 3 of
    'crawl-data/CC-MAIN-.../segments/<segment>/wat/...' (S1; the manifest
    grouping of InitImport, wat.go:174-180)."""
    return F.split(path_col, "/").getItem(3)


import re

_ARCHIVE_RE = re.compile(r"^CC-MAIN-\d{4}-\d{2}$")


def is_correct_archive_format(name: str) -> bool:
    """Archive name gate, e.g. 'CC-MAIN-2023-12' (IsCorrectArchiveFormat,
    wat.go:1064-1069)."""
    return bool(_ARCHIVE_RE.match(name))


def select_segment(
    manifest: DataFrame, done_segments: set[str], segment: str | None = None
) -> str | None:
    """Next segment to import — lowest id not yet finished (O5,
    SelectSegmentToImport wat.go:979-992), or the explicitly requested
    one (SelectSegmentByID wat.go:995-1003). Driver-side metadata op on
    the manifest frame; returns None when nothing is left."""
    segs = [
        r.segment
        for r in manifest.select("segment").distinct().orderBy("segment").collect()
    ]
    if segment is not None:
        return segment if segment in segs else None
    for s in segs:
        if s not in done_segments:
            return s
    return None


def wat_manifest(spark: SparkSession, paths_file: str) -> DataFrame:
    """S1 — read a (downloaded) ``wat.paths`` manifest into
    (wat_path, segment, file_number); the driver-side work queue
    (InitImport, wat.go:147-218) becomes a plain DataFrame."""
    from globallinks_spark.functions.urltools import wat_file_number

    df = spark.read.text(paths_file).withColumnRenamed("value", "wat_path")
    return df.select(
        "wat_path",
        segment_of_path(F.col("wat_path")).alias("segment"),
        wat_file_number(F.col("wat_path")).alias("file_number"),
    )
