"""Single-node oracle for FrekiSpec v1 (SURVEY.md §2.4, §5.2).

A direct, readable pure-Python(+numpy) implementation of the freki
layout-analysis pipeline: glyph-XML parse (S1), y-overlap line
clustering (S2), gap-proportional spacing (S3), whitespace-channel
column detection (S4), vertical-gap / font-change block segmentation
(S5), freki-format serialization with media interleaving (S6).

This module is the golden-answer generator for the test suite.  It is
deliberately coded *independently* from the vectorized Spark kernel
(``freki_spark.kernel``): both implement the same spec
(``freki_spark.spec`` constants + ``freki_spark.grammar`` rendering),
and the tests assert span-for-span equality between them — a
two-implementation consistency check standing in for the reference's
golden corpus, which was unavailable at build time (empty
/root/reference mount, SURVEY.md §0).

Reference parity targets (pvk444/freki, unverified [U]):
  S1 — freki/analyzers/tetml.py, freki/analyzers/pdfminer.py
  S2/S3 — freki/analyzers/base.py line-building loop
  S4/S5 — analyzer/block logic in freki/main.py
  S6 — freki/serialize.py (FrekiBlock.__str__, FrekiLine)
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from bisect import bisect_right
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from . import spec
from .grammar import (
    font_key,
    font_label,
    mode_first,
    render_block_header,
    render_line,
)

# --------------------------------------------------------------------------
# data model (intra-document only; never materialized as Spark rows)
# --------------------------------------------------------------------------


@dataclass
class Token:
    text: str
    llx: float
    lly: float
    urx: float
    ury: float
    font: str
    size: float

    @property
    def height(self) -> float:
        return self.ury - self.lly

    @property
    def xcenter(self) -> float:
        return (self.llx + self.urx) / 2.0

    @property
    def fkey(self) -> str:
        return font_key(self.font, self.size)


@dataclass
class Line:
    tokens: list[Token] = field(default_factory=list)

    @property
    def llx(self) -> float:
        return min(t.llx for t in self.tokens)

    @property
    def urx(self) -> float:
        return max(t.urx for t in self.tokens)

    @property
    def lly(self) -> float:
        return min(t.lly for t in self.tokens)

    @property
    def ury(self) -> float:
        return max(t.ury for t in self.tokens)

    @property
    def mean_ury(self) -> float:
        return float(np.mean([t.ury for t in self.tokens]))

    @property
    def ycenter(self) -> float:
        return (self.lly + self.ury) / 2.0

    def dominant_font(self) -> str:
        """Mode of (font, size) over tokens; ties -> first occurrence."""
        counts = Counter(t.fkey for t in self.tokens)
        best = max(counts.values())
        for t in self.tokens:
            if counts[t.fkey] == best:
                return t.fkey
        raise AssertionError("unreachable")


@dataclass
class Page:
    number: int
    width: float
    height: float
    tokens: list[Token] = field(default_factory=list)


# --------------------------------------------------------------------------
# S1 — parse glyph-level XML (stdlib ElementTree only; no lxml offline)
# --------------------------------------------------------------------------


def _local(tag: str) -> str:
    """Namespace-agnostic local element name."""
    return tag.rsplit("}", 1)[-1]


def _majority_font(pairs: list[tuple[str, float]]) -> tuple[str, float]:
    """Most common (font, size) pair; ties -> first occurrence.  The
    vote itself is grammar.mode_first — part of the shared S1 contract
    (both implementations must tie-break identically), so the single
    implementation lives there."""
    i = mode_first([font_key(f, s) for f, s in pairs])
    f, s = pairs[i]
    return f, round(float(s), spec.FONT_SIZE_NDIGITS)


def parse_tetml(xml_text: str) -> list[Page]:
    """TETML dialect: <Page>/<Word>(<Text>,<Box>,<Glyph>*).  [U: tetml.py]"""
    root = ET.fromstring(xml_text)
    pages: list[Page] = []
    for pel in root.iter():
        if _local(pel.tag) != "Page":
            continue
        page = Page(
            number=int(pel.get("number", str(len(pages) + 1))),
            width=float(pel.get("width", "612")),
            height=float(pel.get("height", "792")),
        )
        for wel in pel.iter():
            if _local(wel.tag) != "Word":
                continue
            text = None
            box = None
            glyphs: list[tuple[str, float]] = []
            for child in wel:
                name = _local(child.tag)
                if name == "Text":
                    text = child.text
                elif name == "Box":
                    box = (
                        float(child.get("llx")),
                        float(child.get("lly")),
                        float(child.get("urx")),
                        float(child.get("ury")),
                    )
                elif name == "Glyph":
                    glyphs.append(
                        (child.get("font", ""), float(child.get("size", "0")))
                    )
            if not text or not text.strip() or box is None:
                continue  # drop empty/whitespace words and boxless words
            if glyphs:
                font, size = _majority_font(glyphs)
            else:
                font, size = "", 0.0
            page.tokens.append(Token(text, *box, font=font, size=size))
        pages.append(page)
    return pages


def parse_pdfminer(xml_text: str) -> list[Page]:
    """PDFMiner ``pdf2txt.py -t xml`` dialect: one <text> per glyph,
    merged into words within a <textline>; whitespace / bboxless
    glyphs terminate the current word.  [U: pdfminer.py]"""
    root = ET.fromstring(xml_text)
    pages: list[Page] = []
    for pel in root.iter():
        if _local(pel.tag) != "page":
            continue
        pbbox = pel.get("bbox", "0,0,612,792").split(",")
        page = Page(
            number=int(pel.get("id", str(len(pages) + 1))),
            width=float(pbbox[2]) - float(pbbox[0]),
            height=float(pbbox[3]) - float(pbbox[1]),
        )
        for tl in pel.iter():
            if _local(tl.tag) != "textline":
                continue
            cur_text: list[str] = []
            cur_boxes: list[tuple[float, float, float, float]] = []
            cur_fonts: list[tuple[str, float]] = []

            def flush() -> None:
                if cur_text:
                    font, size = _majority_font(cur_fonts)
                    page.tokens.append(
                        Token(
                            "".join(cur_text),
                            min(b[0] for b in cur_boxes),
                            min(b[1] for b in cur_boxes),
                            max(b[2] for b in cur_boxes),
                            max(b[3] for b in cur_boxes),
                            font=font,
                            size=size,
                        )
                    )
                cur_text.clear()
                cur_boxes.clear()
                cur_fonts.clear()

            for gel in tl.iter():
                if _local(gel.tag) != "text":
                    continue
                gtext = gel.text
                gbbox = gel.get("bbox")
                if gtext is None or not gtext.strip() or gbbox is None:
                    flush()
                    continue
                b = tuple(float(v) for v in gbbox.split(","))
                cur_text.append(gtext)
                cur_boxes.append(b)  # type: ignore[arg-type]
                cur_fonts.append((gel.get("font", ""), float(gel.get("size", "0"))))
            flush()
        pages.append(page)
    return pages


def parse_document(xml_text: str, dialect: str) -> list[Page]:
    if dialect == spec.KIND_TETML:
        return parse_tetml(xml_text)
    if dialect == spec.KIND_PDFMINER:
        return parse_pdfminer(xml_text)
    raise ValueError(f"unknown dialect: {dialect!r}")


# --------------------------------------------------------------------------
# S2 — line clustering by y-interval overlap
# --------------------------------------------------------------------------


def cluster_lines(tokens: list[Token]) -> list[Line]:
    if not tokens:
        return []
    order = sorted(
        range(len(tokens)), key=lambda i: (-tokens[i].ury, tokens[i].llx, i)
    )
    lines: list[Line] = []
    cur_lly = cur_ury = 0.0
    for i in order:
        t = tokens[i]
        if lines:
            overlap = min(t.ury, cur_ury) - max(t.lly, cur_lly)
            h_line = cur_ury - cur_lly
            if overlap > spec.LINE_OVERLAP_RATIO * min(t.height, h_line):
                lines[-1].tokens.append(t)
                cur_lly = min(cur_lly, t.lly)
                cur_ury = max(cur_ury, t.ury)
                continue
        lines.append(Line([t]))
        cur_lly, cur_ury = t.lly, t.ury
    for ln in lines:
        ln.tokens.sort(key=lambda t: t.llx)
    lines.sort(key=lambda ln: -ln.mean_ury)
    return lines


# --------------------------------------------------------------------------
# S3 — gap-proportional spacing (preserves columnar/IGT alignment)
# --------------------------------------------------------------------------


def render_spacing(line: Line) -> str:
    toks = line.tokens
    # np.sum (pairwise) on purpose: the vectorized kernel sums widths
    # the same way, keeping cw bit-identical between implementations.
    total_w = float(np.sum(np.asarray([t.urx - t.llx for t in toks], dtype=np.float64)))
    total_c = sum(len(t.text) for t in toks)
    cw = total_w / total_c if total_c else 1.0
    if cw <= 0:
        cw = 1.0
    out = [toks[0].text]
    for prev, cur in zip(toks, toks[1:]):
        g = cur.llx - prev.urx
        n = max(0, int(round(g / cw)))  # banker's rounding, matches np.rint
        if n < 1 and g > spec.SPACE_MIN_GAP_RATIO * cw:
            n = 1
        out.append(" " * n)
        out.append(cur.text)
    return "".join(out)


# --------------------------------------------------------------------------
# S4 — column detection via per-line whitespace-channel voting
# --------------------------------------------------------------------------


def _line_gaps(line: Line) -> list[tuple[float, float]]:
    """Internal (start, end) x-gaps between consecutive tokens."""
    gaps = []
    for prev, cur in zip(line.tokens, line.tokens[1:]):
        if cur.llx > prev.urx:
            gaps.append((prev.urx, cur.llx))
    return gaps


def _channel_splits(gaps: list[tuple[float, float]]) -> list[float]:
    """Group qualifying gaps into channels by x-interval overlap (spec
    S4 v2): sort by gap start; a gap joins the open channel while its
    start precedes the channel's running max end.  Each channel with
    >= COLUMN_CHANNEL_MIN_GAPS member gaps proposes a split at the
    median of its member centers."""
    ordered = sorted(gaps)
    channels: list[list[tuple[float, float]]] = [[ordered[0]]]
    max_ge = ordered[0][1]
    for g in ordered[1:]:
        if g[0] < max_ge:
            channels[-1].append(g)
            max_ge = max(max_ge, g[1])
        else:
            channels.append([g])
            max_ge = g[1]
    return [
        float(np.median(np.asarray([(gs + ge) / 2.0 for gs, ge in ch], np.float64)))
        for ch in channels
        if len(ch) >= spec.COLUMN_CHANNEL_MIN_GAPS
    ]


def _try_splits(
    lines: list[Line], splits: list[float], strict: bool
) -> list[list[Line]] | None:
    """Classify + bin lines against the proposed splits; None if the
    page does not support them (spec S4 acceptance rules).  ``strict``
    adds the v2 respect-vs-bridge guard for the multi-split fallback."""
    line_gaps = [_line_gaps(ln) for ln in lines]

    def has_gap_over(gaps, s):
        return any(
            gs < s < ge and ge - gs >= spec.COLUMN_MIN_CHANNEL_PT for gs, ge in gaps
        )

    compat = [
        all(
            not (ln.llx < s < ln.urx) or has_gap_over(gaps, s)
            for s in splits
        )
        for ln, gaps in zip(lines, line_gaps)
    ]
    if sum(compat) / len(lines) < spec.COLUMN_MIN_LINE_FRAC:
        return None
    if strict:
        # tab-grid guard (spec S4 v2 rule c): a bridging line's wide
        # gaps should all be proposed channels; uncovered wide gaps in
        # most bridging lines mean a tab grid, not columns
        n_bridging = n_uncovered = 0
        for ln, gaps, ok in zip(lines, line_gaps, compat):
            if not ok or not any(ln.llx < s < ln.urx for s in splits):
                continue
            n_bridging += 1
            if any(
                ge - gs >= spec.COLUMN_MIN_CHANNEL_PT
                and not any(gs < s < ge for s in splits)
                for gs, ge in gaps
            ):
                n_uncovered += 1
        if n_bridging and n_uncovered * 2 > n_bridging:
            return None

    ncols = len(splits) + 1
    cols: list[list[Line]] = [[] for _ in range(ncols)]
    full: list[Line] = []
    for ln, ok in zip(lines, compat):
        if not ok:
            full.append(ln)
            continue
        bins: list[list] = [[] for _ in range(ncols)]
        for t in ln.tokens:
            b = sum(1 for s in splits if t.xcenter >= s)
            bins[b].append(t)
        for b, ts in enumerate(bins):
            if ts:
                cols[b].append(ln if len(ts) == len(ln.tokens) else Line(ts))
    if any(not c for c in cols):
        return None

    body = [ln for c in cols for ln in c]
    body_top = max(ln.ury for ln in body)
    body_bot = min(ln.lly for ln in body)
    body_mid = (body_top + body_bot) / 2.0
    headers = [ln for ln in full if ln.ycenter >= body_mid]
    footers = [ln for ln in full if ln.ycenter < body_mid]

    segs = [headers, *cols, footers]
    for seg in segs:
        seg.sort(key=lambda ln: -ln.mean_ury)
    return segs


def detect_columns(lines: list[Line], page_width: float) -> list[list[Line]]:
    """Split a page's lines into reading-order segments.

    Single column -> ``[lines]``.  k accepted splits ->
    ``[headers, col_0, ..., col_k, footers]`` (each internally in
    descending-y order); lines that span a split without a qualifying
    gap there become headers/footers by y-center relative to the
    column body.  The v1 single split (pooled-median) is tried first —
    pages it accepts are bit-for-bit unchanged from spec v1 — and the
    interval-clustered multi-split fallback (>= 3 columns) only runs
    when the v1 attempt fails (spec S4 v2).
    """
    if len(lines) < 2:
        return [lines]
    lo = page_width * (0.5 - spec.COLUMN_CENTER_FRAC / 2.0)
    hi = page_width * (0.5 + spec.COLUMN_CENTER_FRAC / 2.0)

    qgaps = []
    for ln in lines:
        for gs, ge in _line_gaps(ln):
            if ge - gs >= spec.COLUMN_MIN_CHANNEL_PT and lo <= (gs + ge) / 2.0 <= hi:
                qgaps.append((gs, ge))
    if not qgaps:
        return [lines]

    mc = float(np.median(np.asarray([(gs + ge) / 2.0 for gs, ge in qgaps], np.float64)))
    segs = _try_splits(lines, [mc], strict=False)
    if segs is not None:
        return segs

    splits = _channel_splits(qgaps)
    if len(splits) >= 2:
        segs = _try_splits(lines, splits, strict=True)
        if segs is not None:
            return segs
    return [lines]


# --------------------------------------------------------------------------
# S5 — block segmentation (vertical gap / dominant-font change)
# --------------------------------------------------------------------------


@dataclass
class Block:
    lines: list[Line]

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (
            min(ln.llx for ln in self.lines),
            min(ln.lly for ln in self.lines),
            max(ln.urx for ln in self.lines),
            max(ln.ury for ln in self.lines),
        )


def segment_blocks(segments: list[list[Line]]) -> list[Block]:
    """Blocks per page: walk each reading-order segment; split on
    gap > BLOCK_GAP_FACTOR * (median positive inter-line gap on the
    page) or on dominant-font change vs the block's first line."""
    gaps: list[float] = []
    for seg in segments:
        for prev, cur in zip(seg, seg[1:]):
            g = prev.lly - cur.ury
            if g > 0:
                gaps.append(g)
    med = float(np.median(np.asarray(gaps, dtype=np.float64))) if gaps else None

    blocks: list[Block] = []
    for seg in segments:
        if not seg:
            continue
        cur_block = Block([seg[0]])
        block_font = seg[0].dominant_font()
        for prev, cur in zip(seg, seg[1:]):
            g = prev.lly - cur.ury
            split = (med is not None and g > spec.BLOCK_GAP_FACTOR * med) or (
                cur.dominant_font() != block_font
            )
            if split:
                blocks.append(cur_block)
                cur_block = Block([cur])
                block_font = cur.dominant_font()
            else:
                cur_block.lines.append(cur)
        blocks.append(cur_block)
    return blocks


# --------------------------------------------------------------------------
# S6 — serialization + media interleaving
# --------------------------------------------------------------------------

# normative lexical marker shared with the kernel (spec.py): media
# anchoring must agree bit-for-bit between the two implementations
_PAGE_START_RE = spec.PAGE_START_RE


def media_anchor_pages(
    xml_chunks: list[dict], media_spans: list[dict], dialect: str
) -> list[int]:
    """Page index (0-based position; -1 = before everything) for each
    media span: the page whose XML region contains the media span's
    anchor char (= total chars of XML chunks that precede it)."""
    xml_text = "".join(c["text"] for c in xml_chunks)
    starts = [m.start() for m in _PAGE_START_RE[dialect].finditer(xml_text)]
    cum = 0
    cum_by_offset: list[tuple[int, int]] = []  # (chunk offset, chars before it)
    for c in xml_chunks:
        cum_by_offset.append((c["offset"], cum))
        cum += len(c["text"])
    anchors = []
    for m in media_spans:
        before = cum  # media after all chunks
        for off, chars_before in cum_by_offset:
            if off > m["offset"]:
                before = chars_before
                break
        anchors.append(bisect_right(starts, before) - 1)
    return anchors


def serialize_doc(
    doc_id: str,
    pages: list[Page],
    media_by_page: dict[int, list[dict]],
) -> list[dict]:
    """Emit the ordered output span sequence for one document.

    media_by_page maps 0-based page *position* (-1 = prologue) to the
    media spans anchored there, already in input-offset order.
    """
    out: list[dict] = []

    def emit(kind: str, text: str, media_ref: str) -> None:
        out.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(out)}
        )

    for m in media_by_page.get(-1, []):
        emit(spec.KIND_MEDIA, m["text"], m["media_ref"])

    font_ids: dict[str, int] = {}
    line_no = 0
    for pidx, page in enumerate(pages):
        lines = cluster_lines(page.tokens)
        segments = detect_columns(lines, page.width)
        blocks = segment_blocks(segments)
        for k, block in enumerate(blocks, start=1):
            start = line_no + 1
            end = line_no + len(block.lines)
            llx, lly, urx, ury = block.bbox
            emit(
                spec.KIND_BLOCK,
                render_block_header(
                    doc_id, page.number, k, llx, lly, urx, ury, start, end
                ),
                "",
            )
            for ln in block.lines:
                line_no += 1
                labels = []
                seen = set()
                for t in ln.tokens:
                    fk = t.fkey
                    if fk not in font_ids:
                        font_ids[fk] = len(font_ids)
                    if fk not in seen:
                        seen.add(fk)
                        labels.append(font_label(font_ids[fk], fk))
                emit(
                    spec.KIND_LINE,
                    render_line(line_no, labels, render_spacing(ln)),
                    "",
                )
        for m in media_by_page.get(pidx, []):
            emit(spec.KIND_MEDIA, m["text"], m["media_ref"])
    return out


# --------------------------------------------------------------------------
# top level — one document in, ordered span sequence (or error) out
# --------------------------------------------------------------------------


def extract_document(doc_id: str, spans: list[dict]) -> tuple[list[dict], str | None]:
    """Run the full FrekiSpec v1 pipeline on one document.

    ``spans`` is the input span list (kind/text/media_ref/offset dicts).
    Returns (output_spans, None) or ([], error_message) when the XML is
    unparseable or a span field the pipeline orders or joins by is null
    (quarantine path — never raises).

    Dialect dispatch mirrors kernel.extract_document_rows: a document
    whose first input chunk is kind='html' routes to the HtmlSpec
    oracle (freki_spark.html_oracle) instead.
    """
    if None in spans:
        return [], "span-null-field: span"
    if any(s["offset"] is None for s in spans):
        return [], "span-null-field: offset"
    if any(s["kind"] in spec.CHUNK_KINDS and s["text"] is None for s in spans):
        return [], "span-null-field: text"
    spans = sorted(spans, key=lambda s: s["offset"])
    first_kind = next(
        (s["kind"] for s in spans if s["kind"] in spec.CHUNK_KINDS), None
    )
    if first_kind == spec.KIND_HTML:
        from . import html_oracle

        return html_oracle.extract_document(doc_id, spans)
    xml_chunks = [s for s in spans if s["kind"] in spec.XML_KINDS]
    media = [s for s in spans if s["kind"] == spec.KIND_MEDIA]

    if not xml_chunks:
        out = [
            {
                "kind": spec.KIND_MEDIA,
                "text": m["text"],
                "media_ref": m["media_ref"],
                "offset": i,
            }
            for i, m in enumerate(media)
        ]
        return out, None

    dialect = xml_chunks[0]["kind"]
    xml_text = "".join(c["text"] for c in xml_chunks)
    try:
        pages = parse_document(xml_text, dialect)
    except ET.ParseError as e:
        return [], f"xml-parse-error: {e}"
    except (ValueError, TypeError, IndexError) as e:
        return [], f"xml-content-error: {e}"

    anchors = media_anchor_pages(xml_chunks, media, dialect)
    media_by_page: dict[int, list[dict]] = {}
    for m, a in zip(media, anchors):
        # clamp to the pages the parser actually yielded: a regex anchor
        # site inside a comment/PI can exceed them, and a media span
        # anchored past the last page must still be emitted, never lost
        media_by_page.setdefault(min(a, len(pages) - 1), []).append(m)
    return serialize_doc(doc_id, pages, media_by_page), None
