"""Freki-format round-trip reader (reference parity: FrekiDoc.read).

Upstream freki's third entry point parses an existing freki file back
into Doc/Block/Line objects for downstream consumers (ODIN igtdetect);
it is regex-driven over the ``line=``/block-header grammar
[SURVEY.md §3.1(3); reference home: freki/serialize.py
``FrekiDoc.read`` — unavailable at build time, empty mount, §0].

Here the same capability is a *pure-JVM* structured parse: every field
comes out of ``regexp_extract`` on the span text, so the whole plan is
whole-stage-codegen (no Python worker, no shuffle — a narrow map over
the spans table).  At 10^12-doc scale this is the cheapest possible
re-ingestion path: a columnar scan plus string kernels, with predicate
pushdown on ``kind`` intact because the filters are sargable column
comparisons.

The grammar constants mirror freki_spark.grammar (the serialization
side of the same contract):

    block: ``doc_id=<d> page=<p> block_id=<p>-<k> bbox=<llx>,<lly>,
            <urx>,<ury> <start> <end>``
    line:  ``line=<n> fonts=<F0-9.0,...>:<body>``
    media: text passes through; media_ref carries the pointer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import spec

# one $-anchored tail pattern for every block-header field: doc_id is
# an arbitrary string rendered FIRST in the header, so an unanchored
# first-match extract of 'page=(\d+)' would read a fake field out of a
# doc_id like 'report_page=12.pdf'.  Anchoring the full structured
# tail to $ makes the true (last) fields the only possible match.
_RE_BLOCK_TAIL = (
    r" page=(\d+) block_id=(\d+)-(\d+)"
    r" bbox=(-?[0-9.]+),(-?[0-9.]+),(-?[0-9.]+),(-?[0-9.]+)"
    r"(?: label=(\S+))? (\d+) (\d+)$"
)
_RE_LINE_NO = r"^line=(\d+)"
_RE_FONTS = r"^line=\d+ fonts=([^:]*):"
_RE_LINE_PREFIX = r"^line=\d+ fonts=[^:]*:"


def _ex(pat: str, idx: int):
    return F.regexp_extract("text", pat, idx)


def read_freki_spans(exploded: DataFrame) -> DataFrame:
    """Structured parse of exploded freki output spans.

    Input columns: ``doc_id, kind, text, media_ref, offset`` (one row
    per span, i.e. ``select(doc_id, explode(spans))`` of the pipeline
    output).  Returns one flat row per span with every grammar field
    recovered; fields that do not apply to a span kind are NULL.
    """
    is_block = F.col("kind") == spec.KIND_BLOCK
    is_line = F.col("kind") == spec.KIND_LINE
    return exploded.select(
        "doc_id",
        "offset",
        "kind",
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 1).cast("int")).alias("page"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 3).cast("int")).alias("block_k"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 4).cast("double")).alias("llx"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 5).cast("double")).alias("lly"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 6).cast("double")).alias("urx"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 7).cast("double")).alias("ury"),
        F.when(is_block, F.nullif(_ex(_RE_BLOCK_TAIL, 8), F.lit(""))).alias("label"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 9).cast("int")).alias("start_line"),
        F.when(is_block, _ex(_RE_BLOCK_TAIL, 10).cast("int")).alias("end_line"),
        F.when(is_line, _ex(_RE_LINE_NO, 1).cast("int")).alias("line_no"),
        F.when(is_line, _ex(_RE_FONTS, 1)).alias("fonts"),
        F.when(is_line, F.regexp_replace("text", _RE_LINE_PREFIX, "")).alias("body"),
        F.when(F.col("kind") == spec.KIND_MEDIA, F.col("media_ref")).alias(
            "media_ref2"
        ),
    )


def read_freki_docs(docs: DataFrame) -> DataFrame:
    """Same parse starting from the nested (doc_id, spans) table."""
    exploded = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    return read_freki_spans(exploded)


def blocks(parsed: DataFrame) -> DataFrame:
    """Block view — parity with iterating FrekiDoc blocks upstream."""
    return parsed.filter(F.col("kind") == spec.KIND_BLOCK).select(
        "doc_id",
        "offset",
        "page",
        "block_k",
        "llx",
        "lly",
        "urx",
        "ury",
        "label",
        "start_line",
        "end_line",
    )


def lines(parsed: DataFrame) -> DataFrame:
    """Line view — parity with FrekiLine iteration upstream."""
    return parsed.filter(F.col("kind") == spec.KIND_LINE).select(
        "doc_id", "offset", "line_no", "fonts", "body"
    )
