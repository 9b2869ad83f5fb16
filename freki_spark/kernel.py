"""Vectorized numpy kernel for FrekiSpec v1 — the implementation that
runs inside the Spark Python UDFs (``freki_spark.pipeline``).

Coded independently from ``freki_spark.oracle`` (two-implementation
consistency check, SURVEY.md §5.2): both share only ``spec`` constants
and the ``grammar`` output format.  All per-token math is float64
numpy; the only Python-level loops are the inherently-sequential
greedy scans (line clustering, block walking) over per-page arrays —
XML parsing (a regex scan of the whole string, or stdlib
``ET.fromstring``; no lxml offline) dominates runtime regardless.

The kernel has two entry surfaces.  Both quarantine null span fields
with ``null_field_error``, cut an XML doc into pages once with
``fastparse.page_cuts``, put a doc's pages and media in one
``reading_order`` (which ``html_kernel`` shares for HTML records),
build span records through one ``layout_records`` (S2–S5 per page,
media spans in reading order; records carry no doc position) and
render them through one ``finalize_records``, which numbers lines and
font ids in record order:

- ``extract_document_rows`` — whole document in, final output span
  rows out (the unsalted fast path; one call per input row inside
  ``mapInArrow``).  Its pages are parsed ``PageTokens``; HTML docs go
  to ``html_kernel.extract_document_rows``.
- ``page_pieces`` + ``extract_group_records`` — the salted mega-doc
  path (S7): stage 1 takes the reading order over standalone per-page
  XML pieces cut at the pages' bounds, stage 2 lays out each page shard
  into span records; stage 3 concatenates the shards' records in doc
  order and renders them (see pipeline.py).

Reference parity targets (pvk444/freki [U], mount empty at build time):
freki/analyzers/{tetml,pdfminer}.py (S1), analyzers/base.py (S2/S3),
freki/main.py block logic (S4/S5), freki/serialize.py (S6).
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET

import numpy as np

from . import fastparse, spec
from .grammar import (
    font_key,
    font_label,
    mode_first,
    page_number,
    render_bbox,
    render_block_header_from_parts,
    render_line,
)

# --------------------------------------------------------------------------
# token batch: parallel arrays for one page
# --------------------------------------------------------------------------


class PageTokens:
    __slots__ = ("number", "width", "height", "texts", "fkeys", "box")

    def __init__(self, number: int | None, width: float, height: float):
        self.number = number
        self.width = width
        self.height = height
        self.texts: list[str] = []
        self.fkeys: list[str] = []
        self.box: np.ndarray | list = []  # grows as python list of 4-tuples

    # The S1 rules, each stated once and shared by the fast walks
    # (fastparse.py, through the page class it is handed) and the ET
    # walks below.  ``get`` reads an element's attributes (an
    # element's ``get`` or a dict's).

    @classmethod
    def tetml_page(cls, get) -> PageTokens:
        number = page_number(get("number"))
        return cls(number, float(get("width", "612")), float(get("height", "792")))

    @classmethod
    def pdfminer_page(cls, get) -> PageTokens:
        b = get("bbox", "0,0,612,792").split(",")
        return cls(page_number(get("id")), float(b[2]) - float(b[0]), float(b[3]) - float(b[1]))

    @staticmethod
    def tet_box(get) -> tuple[float, float, float, float]:
        """TETML word box: a <Box>'s ``llx``, ``lly``, ``urx``, ``ury``
        as floats, no defaults."""
        return (float(get("llx")), float(get("lly")), float(get("urx")), float(get("ury")))

    class FontKeys(dict):
        """One doc's glyph ``(font, size)`` attribute strings -> font
        key, each distinct pair converted once.  A non-numeric size
        raises ``float``'s ValueError on every lookup, so nothing wrong
        is remembered."""

        def __missing__(self, fs: tuple[str, str]) -> str:
            fk = self[fs] = font_key(fs[0], float(fs[1]))
            return fk

        def of(self, get) -> str:
            """Font key of a glyph whose attributes ``get`` reads: no
            font is "", no size 0."""
            return self[get("font", ""), get("size", "0")]

    def add(self, text: str, llx: float, lly: float, urx: float, ury: float, fk: str):
        self.texts.append(text)
        self.fkeys.append(fk)
        self.box.append((llx, lly, urx, ury))

    def add_word(self, text: str | None, box: tuple | None, fonts: list[str]) -> None:
        """S1 TETML word rule (fast and ET walks): a word with non-blank
        text and a box is kept, in its glyphs' majority font (ties: the
        first; no glyph: the empty font at size 0)."""
        if text and text.strip() and box is not None:
            self.texts.append(text)
            self.fkeys.append(fonts[mode_first(fonts)] if fonts else _NO_FONT)
            self.box.append(box)

    def freeze(self) -> None:
        self.box = np.asarray(self.box, dtype=np.float64).reshape(-1, 4)


_NO_FONT = font_key("", 0.0)


def _strip_ns(tag: str) -> str:
    i = tag.rfind("}")
    return tag[i + 1 :] if i >= 0 else tag


# --------------------------------------------------------------------------
# S1 — parse (a regex scan of the string, ET.fromstring as fallback)
# --------------------------------------------------------------------------


def parse_tetml(xml_text: str, cuts: list[tuple]) -> list[PageTokens]:
    """Guarded regex/numpy fast path (fastparse.py, over ``cuts``) with
    ET fallback: the fast parser validates with the same expat C parser
    ET wraps (identical accept/reject + error text) and bails to the ET
    walk on any construct a flat regex scan can't mirror."""
    pages = fastparse.parse_tetml_fast(xml_text, cuts, PageTokens)
    return pages if pages is not None else _parse_tetml_et(xml_text)


def parse_pdfminer(xml_text: str, cuts: list[tuple]) -> list[PageTokens]:
    """Same guarded fast path for the PDFMiner dialect (vectorized:
    one findall per page + numpy reduceat word assembly)."""
    pages = fastparse.parse_pdfminer_fast(xml_text, cuts, PageTokens)
    return pages if pages is not None else _parse_pdfminer_et(xml_text)


def _parse_tetml_et(xml_text: str) -> list[PageTokens]:
    """fromstring + wildcard-namespace iter: tag matching stays in C
    (measured ~40% faster than the iterparse event loop on this shape);
    the single-node oracle keeps an independent traversal."""
    root = ET.fromstring(xml_text)
    pages: list[PageTokens] = []
    fonts = PageTokens.FontKeys()
    for pel in root.iterfind(".//{*}Page"):
        cur = PageTokens.tetml_page(pel.get)
        for wel in pel.iterfind(".//{*}Word"):
            text = None
            box = None
            gfonts: list[str] = []
            for ch in wel:
                cn = _strip_ns(ch.tag)
                if cn == "Text":
                    text = ch.text
                elif cn == "Box":
                    box = PageTokens.tet_box(ch.get)
                elif cn == "Glyph":
                    gfonts.append(fonts.of(ch.get))
            cur.add_word(text, box, gfonts)
        cur.freeze()
        pages.append(cur)
    return pages


def _parse_pdfminer_et(xml_text: str) -> list[PageTokens]:
    root = ET.fromstring(xml_text)
    pages: list[PageTokens] = []
    fonts = PageTokens.FontKeys()
    for pel in root.iterfind(".//{*}page"):
        cur = PageTokens.pdfminer_page(pel.get)
        wtext: list[str] = []
        wbox: list[tuple[float, ...]] = []
        wfk: list[str] = []

        def flush() -> None:
            if wtext:
                # python min/max over the handful of glyph boxes (exact,
                # same floats as numpy; ~10x cheaper at this size)
                cur.add(
                    "".join(wtext),
                    min(b[0] for b in wbox),
                    min(b[1] for b in wbox),
                    max(b[2] for b in wbox),
                    max(b[3] for b in wbox),
                    wfk[mode_first(wfk)],
                )
            wtext.clear()
            wbox.clear()
            wfk.clear()

        for tl in pel.iterfind(".//{*}textline"):
            for gel in tl.iterfind(".//{*}text"):
                gtext, gbbox = gel.text, gel.get("bbox")
                if gtext is None or not gtext.strip() or gbbox is None:
                    flush()
                    continue
                wtext.append(gtext)
                wbox.append(tuple(map(float, gbbox.split(","))))
                wfk.append(fonts.of(gel.get))
            flush()
        cur.freeze()
        pages.append(cur)
    return pages


_PARSERS = {spec.KIND_TETML: parse_tetml, spec.KIND_PDFMINER: parse_pdfminer}


def _parse(dialect: str, xml: str, first: int = 1) -> tuple[list[PageTokens], list[int], str | None]:
    """S1 for both paths and the narrow path's ``units_of``: (pages, the
    starts of ``fastparse.page_cuts``, None), or ([], starts, quarantine
    error) when the XML is malformed or one of its values is not a
    number.  The parser walks the same cuts.  A page without a number is
    numbered by its position in the doc, ``first`` being the position of
    the first page in ``xml`` (S7 stage 2 parses one page piece at a
    time)."""
    cuts = fastparse.page_cuts(dialect, xml)
    starts = [c[0] for c in cuts]
    try:
        pages = _PARSERS[dialect](xml, cuts)
    except ET.ParseError as e:
        return [], starts, f"xml-parse-error: {e}"
    except (ValueError, TypeError, IndexError) as e:
        return [], starts, f"xml-content-error: {e}"
    for n, page in enumerate(pages, first):
        if page.number is None:
            page.number = n
    return pages, starts, None


# --------------------------------------------------------------------------
# S2 — line clustering (greedy over y-sorted token indices)
# --------------------------------------------------------------------------


def cluster_lines(page: PageTokens) -> list[np.ndarray]:
    """Return token-index arrays, one per line, reading order applied:
    within line by llx; lines by descending mean ury."""
    n = len(page.texts)
    if n == 0:
        return []
    box = page.box
    order = np.lexsort((np.arange(n), box[:, 0], -box[:, 3]))
    # python-float locals for the greedy scan: identical IEEE compares,
    # ~3x cheaper than numpy scalar indexing in this per-token loop
    heights = (box[:, 3] - box[:, 1]).tolist()
    llys = box[:, 1].tolist()
    urys = box[:, 3].tolist()
    ratio = spec.LINE_OVERLAP_RATIO
    lines: list[list[int]] = []
    cur_lly = cur_ury = 0.0
    for i in order.tolist():
        if lines:
            yi0, yi1 = llys[i], urys[i]
            overlap = min(yi1, cur_ury) - max(yi0, cur_lly)
            if overlap > ratio * min(heights[i], cur_ury - cur_lly):
                lines[-1].append(i)
                if yi0 < cur_lly:
                    cur_lly = yi0
                if yi1 > cur_ury:
                    cur_ury = yi1
                continue
        lines.append([i])
        cur_lly, cur_ury = llys[i], urys[i]
    out: list[np.ndarray] = []
    for idx in lines:
        # stable sort by llx over insertion order — mirrors the
        # oracle's python list.sort(key=llx) tie-break exactly
        a = np.asarray(idx, dtype=np.int64)
        a = a[np.argsort(box[a, 0], kind="stable")]
        out.append(a)
    # add.reduce/n is np.mean's own computation (pairwise sum, one
    # divide) without the fromnumeric dispatch — bit-identical on
    # float64 1-d input and ~3x faster at line-sized arrays (the
    # goldens and kernel-parity tests pin the bit-identity)
    mean_ury = np.asarray(
        [float(np.add.reduce(box[a, 3]) / a.shape[0]) for a in out]
    )
    return [out[j] for j in np.argsort(-mean_ury, kind="stable")]


# --------------------------------------------------------------------------
# S3 — spacing (vectorized per line)
# --------------------------------------------------------------------------


def render_spacing(page: PageTokens, idx: np.ndarray) -> str:
    box = page.box[idx]
    texts = [page.texts[i] for i in idx]
    widths = box[:, 2] - box[:, 0]
    # integer char count: order-exact, no float-summation semantics
    # (cw itself keeps np.sum's pairwise order — the oracle pins it)
    total_c = sum(len(t) for t in texts)
    cw = float(np.sum(widths)) / total_c if total_c else 1.0
    if cw <= 0:
        cw = 1.0
    if len(texts) == 1:
        return texts[0]
    # scalar gap loop: lines are ~10 tokens, where numpy's per-call
    # constants cost more than the arithmetic (measured 1.4x).  Python
    # round() and np.rint are both round-half-even on float64, so the
    # elementwise math is identical; quotients beyond 2^53 (absurd
    # coordinates) fall back to the vector path whose astype semantics
    # the goldens pin.
    ratio = spec.SPACE_MIN_GAP_RATIO * cw
    lx = box[:, 0].tolist()
    rx = box[:, 2].tolist()
    parts = [texts[0]]
    for j in range(1, len(texts)):
        gap = lx[j] - rx[j - 1]
        q = gap / cw
        if not (-9.0e15 < q < 9.0e15):
            return _render_spacing_vec(box, texts, cw)
        k = int(round(q))
        if k < 0:
            k = 0
        if k < 1 and gap > ratio:
            k = 1
        parts.append(" " * k)
        parts.append(texts[j])
    return "".join(parts)


def _render_spacing_vec(box: np.ndarray, texts: list[str], cw: float) -> str:
    gaps = box[1:, 0] - box[:-1, 2]
    nsp = np.maximum(np.rint(gaps / cw), 0.0)
    nsp[(nsp < 1.0) & (gaps > spec.SPACE_MIN_GAP_RATIO * cw)] = 1.0
    parts = [texts[0]]
    for k, t in zip(nsp.astype(np.int64), texts[1:]):
        parts.append(" " * int(k))
        parts.append(t)
    return "".join(parts)


# --------------------------------------------------------------------------
# S4 — column detection (per-line whitespace-channel voting)
# --------------------------------------------------------------------------


def detect_columns(page: PageTokens, lines: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Spec S4: the v1 single split (pooled median of qualifying gap
    centers) is tried first — pages it accepts are bit-for-bit
    unchanged from v1 — then the v2 multi-split fallback (interval-
    overlap channel clustering, >= 3 columns) with the tab-grid
    guard."""
    if len(lines) < 2:
        return [lines]
    box = page.box
    w = page.width
    lo = w * (0.5 - spec.COLUMN_CENTER_FRAC / 2.0)
    hi = w * (0.5 + spec.COLUMN_CENTER_FRAC / 2.0)

    # all intra-line token gaps at once: tokens are already in
    # within-line x order, so consecutive-pair gaps per line are just
    # consecutive pairs of the concatenated index array, masked where
    # the pair crosses a line boundary.  Values and their order are
    # identical to the per-line construction.
    n_lines = len(lines)
    lens = np.fromiter((len(ix) for ix in lines), np.int64, count=n_lines)
    cat = np.concatenate(lines)
    ends = np.cumsum(lens)
    starts = ends - lens
    npairs = len(cat) - 1
    intra = np.ones(npairs, dtype=bool)
    intra[ends[:-1] - 1] = False  # pairs straddling a line boundary
    gs = box[cat[:-1], 2]
    ge = box[cat[1:], 0]
    lid = np.repeat(np.arange(n_lines), lens)[:-1]  # line id per pair
    pos = intra & (ge > gs)

    qual = pos & ((ge - gs) >= spec.COLUMN_MIN_CHANNEL_PT)
    c = (gs + ge) / 2.0
    sel = qual & (c >= lo) & (c <= hi)
    if not sel.any():
        return [lines]

    line_max_urx = np.maximum.reduceat(box[cat, 2], starts)
    line_min_llx = np.minimum.reduceat(box[cat, 0], starts)

    def try_splits(splits: list[float], strict: bool):
        sp = np.asarray(splits, dtype=np.float64)
        ns = len(splits)
        # contains[l, i]: line l holds a qualifying gap over split i
        contains = np.zeros((n_lines, ns), dtype=bool)
        for i in range(ns):
            cm = qual & (gs < sp[i]) & (sp[i] < ge)
            if cm.any():
                contains[np.unique(lid[cm]), i] = True
        spans = (line_min_llx[:, None] < sp[None, :]) & (
            sp[None, :] < line_max_urx[:, None]
        )
        compat = ~(spans & ~contains).any(axis=1)
        if int(compat.sum()) / n_lines < spec.COLUMN_MIN_LINE_FRAC:
            return None
        if strict:
            # tab-grid guard (spec S4 v2 rule c): most bridging lines
            # holding a wide gap that contains NO proposed split means
            # a tab grid, not columns
            unc_pair = qual.copy()
            for i in range(ns):
                unc_pair &= ~((gs < sp[i]) & (sp[i] < ge))
            unc_line = np.zeros(n_lines, dtype=bool)
            if unc_pair.any():
                unc_line[np.unique(lid[unc_pair])] = True
            bridging = compat & spans.any(axis=1)
            n_bridging = int(bridging.sum())
            if n_bridging and int((bridging & unc_line).sum()) * 2 > n_bridging:
                return None

        ncols = ns + 1
        cols: list[list[np.ndarray]] = [[] for _ in range(ncols)]
        full: list[np.ndarray] = []
        one_split = ns == 1
        for li, idx in enumerate(lines):
            if not compat[li]:
                full.append(idx)
                continue
            xc = (box[idx, 0] + box[idx, 2]) / 2.0
            # bin = number of splits <= xcenter; the 1-split common case
            # is a single vectorized compare (searchsorted on a 1-element
            # array costs ~2x per line)
            b = (
                (xc >= sp[0]).astype(np.intp)
                if one_split
                else np.searchsorted(sp, xc, side="right")
            )
            if b[0] == b[-1] and (b == b[0]).all():
                cols[int(b[0])].append(idx)  # whole line in one column
            else:
                for bi in np.unique(b):
                    cols[int(bi)].append(idx[b == bi])
        if any(not cl for cl in cols):
            return None

        body = [i for cl in cols for i in cl]
        body_top = max(float(box[i, 3].max()) for i in body)
        body_bot = min(float(box[i, 1].min()) for i in body)
        body_mid = (body_top + body_bot) / 2.0
        headers, footers = [], []
        for idx in full:
            yc = (float(box[idx, 1].min()) + float(box[idx, 3].max())) / 2.0
            (headers if yc >= body_mid else footers).append(idx)

        segs = []
        for seg in (headers, *cols, footers):
            if seg:
                # same bit-identical add.reduce/n as cluster_lines
                mu = np.asarray(
                    [float(np.add.reduce(box[i, 3]) / i.shape[0]) for i in seg]
                )
                seg = [seg[j] for j in np.argsort(-mu, kind="stable")]
            segs.append(seg)
        return segs

    mc = float(np.median(c[sel]))
    segs = try_splits([mc], strict=False)
    if segs is not None:
        return segs

    # v2 fallback: interval-overlap channel clustering of qualifying
    # gaps (sorted by (gs, ge) like the oracle; membership only depends
    # on gap starts vs the running max end)
    order = np.lexsort((ge[sel], gs[sel]))
    ggs, gge, gc = gs[sel][order], ge[sel][order], c[sel][order]
    channels: list[list[int]] = [[0]]
    max_ge = gge[0]
    for j in range(1, len(ggs)):
        if ggs[j] < max_ge:
            channels[-1].append(j)
            max_ge = max(max_ge, gge[j])
        else:
            channels.append([j])
            max_ge = gge[j]
    splits = [
        float(np.median(gc[ch]))
        for ch in channels
        if len(ch) >= spec.COLUMN_CHANNEL_MIN_GAPS
    ]
    if len(splits) >= 2:
        segs = try_splits(splits, strict=True)
        if segs is not None:
            return segs
    return [lines]


# --------------------------------------------------------------------------
# S5 — block segmentation
# --------------------------------------------------------------------------


def segment_blocks(
    page: PageTokens, segments: list[list[np.ndarray]]
) -> list[list[np.ndarray]]:
    """Group each segment's lines into blocks; returns blocks as lists
    of line index-arrays, page reading order preserved."""
    box = page.box

    def seg_minmax(seg: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
        """Per-line (min lly, max ury) via one reduceat pair — exact
        (min/max are order-independent), no per-line numpy calls."""
        if not seg:
            return np.empty(0), np.empty(0)
        lens = np.fromiter((len(ix) for ix in seg), np.int64, count=len(seg))
        cat = np.concatenate(seg)
        starts = np.cumsum(lens) - lens
        return (
            np.minimum.reduceat(box[cat, 1], starts),
            np.maximum.reduceat(box[cat, 3], starts),
        )

    stats = [seg_minmax(seg) for seg in segments]
    lly = [s[0] for s in stats]
    ury = [s[1] for s in stats]
    all_gaps: list[np.ndarray] = []
    for a, b in zip(lly, ury):
        if len(a) > 1:
            g = a[:-1] - b[1:]
            all_gaps.append(g[g > 0])
    pos = np.concatenate(all_gaps) if all_gaps else np.empty(0)
    med = float(np.median(pos)) if len(pos) else None

    def dom_font(idx: np.ndarray) -> str:
        keys = [page.fkeys[i] for i in idx]
        return keys[mode_first(keys)]

    blocks: list[list[np.ndarray]] = []
    for si, seg in enumerate(segments):
        if not seg:
            continue
        cur = [seg[0]]
        bf = dom_font(seg[0])
        for j in range(1, len(seg)):
            g = lly[si][j - 1] - ury[si][j]
            lf = dom_font(seg[j])
            if (med is not None and g > spec.BLOCK_GAP_FACTOR * med) or lf != bf:
                blocks.append(cur)
                cur = [seg[j]]
                bf = lf
            else:
                cur.append(seg[j])
        blocks.append(cur)
    return blocks


# --------------------------------------------------------------------------
# span records: built by layout_records, rendered by finalize_records
# (both shared by the two paths)
# --------------------------------------------------------------------------


def layout_page(page: PageTokens, records: list) -> None:
    """Run S2–S5 on one page and append its records: each block's
    record (its bbox as ``body``, its number of lines as ``n_lines``),
    then that block's line records (rendered text as ``body``, the
    line's font keys in first-appearance order as ``fonts_keys``).
    Records carry no doc position: ``finalize_records`` numbers them."""
    lines = cluster_lines(page)
    segments = detect_columns(page, lines)
    blocks = segment_blocks(page, segments)
    box = page.box
    for k, blines in enumerate(blocks, start=1):
        allidx = np.concatenate(blines)
        bbox = render_bbox(
            float(box[allidx, 0].min()),
            float(box[allidx, 1].min()),
            float(box[allidx, 2].max()),
            float(box[allidx, 3].max()),
        )
        records.append(
            {
                "kind": spec.KIND_BLOCK,
                "page": page.number,
                "block_k": k,
                "n_lines": len(blines),
                "fonts_keys": [],
                "body": bbox,
                "media_ref": "",
            }
        )
        for idx in blines:
            records.append(
                {
                    "kind": spec.KIND_LINE,
                    "page": page.number,
                    "block_k": k,
                    "n_lines": 0,
                    "fonts_keys": list(dict.fromkeys([page.fkeys[i] for i in idx])),
                    "body": render_spacing(page, idx),
                    "media_ref": "",
                }
            )


def layout_records(items: list) -> list[dict]:
    """Span records of content in reading order: ``items`` holds parsed
    pages (``PageTokens``, laid out by ``layout_page``) and media spans
    (dicts with ``text``/``media_ref``).  The records of consecutive
    slices of ``items``, concatenated, are the records of the whole."""
    records: list[dict] = []
    for it in items:
        if isinstance(it, PageTokens):
            layout_page(it, records)
        else:
            records.append(
                {
                    "kind": spec.KIND_MEDIA,
                    "page": 0,
                    "block_k": 0,
                    "n_lines": 0,
                    "fonts_keys": [],
                    "body": it["text"],
                    "media_ref": it["media_ref"],
                }
            )
    return records


def finalize_records(doc_id: str, records: list) -> list[dict]:
    """Render a doc's records, in doc order, into final
    (kind,text,media_ref,offset) spans — the serializer of both paths.
    Lines are numbered, and fonts given ids, here and nowhere else, in
    record order: a block spans the ``n_lines`` lines after those before
    it, a font's id is the number of fonts seen before its first line,
    and each span's offset is its position."""
    fid: dict[str, int] = {}
    line_no = 0
    out = []
    for off, r in enumerate(records):
        if r["kind"] == spec.KIND_LINE:
            line_no += 1
            labels = [font_label(fid.setdefault(fk, len(fid)), fk) for fk in r["fonts_keys"]]
            text = render_line(line_no, labels, r["body"])
        elif r["kind"] == spec.KIND_BLOCK:
            text = render_block_header_from_parts(
                doc_id,
                r["page"],
                r["block_k"],
                r["body"],
                line_no + 1,
                line_no + r["n_lines"],
            )
        else:  # media
            text = r["body"]
        out.append(
            {
                "kind": r["kind"],
                "text": text,
                "media_ref": r["media_ref"],
                "offset": off,
            }
        )
    return out


# --------------------------------------------------------------------------
# reading order: units with their media anchored (every dialect, both paths)
# --------------------------------------------------------------------------


def null_field_error(spans: list) -> str | None:
    """The quarantine error of a doc whose spans hold a null the kernel
    cannot order or join: a null span, a null offset, or a null text on
    an XML or HTML chunk.  None when the doc has none of them."""
    if any(s is None for s in spans):
        return "span-null-field: span"
    if any(s["offset"] is None for s in spans):
        return "span-null-field: offset"
    if any(s["text"] is None for s in spans if s["kind"] in spec.CHUNK_KINDS):
        return "span-null-field: text"
    return None


def media_positions(chunks: list[dict], starts: list[int], media: list[dict], n_units: int) -> list:
    """The one media anchor, for every dialect: the 0-based position of
    the unit each media span follows (-1 = before the first).  Its anchor
    is the length of the chunks whose offset is at or before its own (the
    oracle's tie rule); it follows the last unit that starts at or before
    the anchor.  Media are clamped to the last unit: a page start the
    regex finds in markup the parser skips must never lose a media span."""
    cum = np.cumsum([0] + [len(c["text"]) for c in chunks])
    at = np.searchsorted([c["offset"] for c in chunks], [m["offset"] for m in media], "right")
    return np.minimum(np.searchsorted(starts, cum[at], "right") - 1, n_units - 1).tolist()


def reading_order(spans: list[dict], units_of) -> tuple[str, list, str | None]:
    """A doc's content in reading order, for every dialect: the media
    before the first unit, then each unit followed by its media.

    ``spans`` are in offset order.  The first chunk kind picks the
    dialect, whose chunks (both XML kinds, or HTML) are joined.
    ``units_of(dialect, text) -> (units, starts, err)`` gives the units
    and their source positions: ``_parse`` on the narrow XML path,
    ``page_pieces`` on the salted one (both cut by ``fastparse.page_cuts``),
    ``html_kernel``'s records for HTML.  Returns (dialect, items, err);
    without chunks, dialect is '' and items the media."""
    dialect = next((s["kind"] for s in spans if s["kind"] in spec.CHUNK_KINDS), "")
    media = [s for s in spans if s["kind"] == spec.KIND_MEDIA]
    if not dialect:
        return "", media, None
    kinds = (spec.KIND_HTML,) if dialect == spec.KIND_HTML else spec.XML_KINDS
    chunks = [s for s in spans if s["kind"] in kinds]
    units, starts, err = units_of(dialect, "".join(c["text"] for c in chunks))
    if err is not None:
        return dialect, [], err
    by_unit: dict[int, list[dict]] = {}
    if media:
        for m, p in zip(media, media_positions(chunks, starts, media, len(units))):
            by_unit.setdefault(p, []).append(m)
    items: list = by_unit.get(-1, [])
    for i, unit in enumerate(units):
        items += [unit, *by_unit.get(i, [])]
    return dialect, items, None


# --------------------------------------------------------------------------
# top level — unsalted fast path
# --------------------------------------------------------------------------


def extract_document_rows(
    doc_id: str, spans: list[dict]
) -> tuple[list[dict], str | None]:
    """Whole-document extraction; mirrors oracle.extract_document but
    array-based.  Returns (output_spans, error).

    Dialect dispatch: the first input chunk's kind decides the
    pipeline — kind='html' routes to the HtmlSpec main-content
    extractor (freki_spark.html_kernel); the XML kinds run FrekiSpec
    S1-S7 below (stray other-kind chunks are ignored by the chosen
    pipeline)."""
    err = null_field_error(spans)
    if err is not None:
        return [], err
    spans = sorted(spans, key=lambda s: s["offset"])
    first_kind = next(
        (s["kind"] for s in spans if s["kind"] in spec.CHUNK_KINDS), None
    )
    if first_kind == spec.KIND_HTML:
        from . import html_kernel

        return html_kernel.extract_document_rows(doc_id, spans)
    _, items, err = reading_order(spans, _parse)
    if err is not None:
        return [], err
    return finalize_records(doc_id, layout_records(items)), None


# --------------------------------------------------------------------------
# salted mega-doc path (S7)
# --------------------------------------------------------------------------


def page_pieces(dialect: str, xml: str) -> tuple[list[str], list[int], str | None]:
    """Stage 1's ``units_of``: (one standalone XML piece per page, the
    pages' start positions, None), or ([], [], 'xml-parse-error: ...').
    The narrow path's expat acceptance and page cut (``fastparse.page_cuts``),
    no tree parse: a piece is its page's text from start to end, wrapped
    with the preamble's xmlns declarations (``collect_xmlns``); a page
    without an end (nested pages) keeps its text up to the next page
    start, so its doc quarantines.  Assumes no entity definitions live
    in the prologue (true for both dialects)."""
    try:
        fastparse.validate(xml)
    except ET.ParseError as e:
        return [], [], f"xml-parse-error: {e}"
    cuts = fastparse.page_cuts(dialect, xml)
    starts = [c[0] for c in cuts]
    decls = collect_xmlns(xml[: starts[0]]) if starts else ""
    ends = [c[3] if c[3] is not None else nxt for c, nxt in zip(cuts, [*starts[1:], len(xml)])]
    return [f"<R{decls}>{xml[s:e]}</R>" for s, e in zip(starts, ends)], starts, None


_XMLNS_RE = re.compile(r"""(xmlns(?::[\w.-]+)?)\s*=\s*("[^"]*"|'[^']*')""")


def collect_xmlns(preamble: str) -> str:
    """Namespace declarations from the document preamble (the ancestor
    tags before the first page element), deduped by prefix with the
    last (innermost) binding winning — re-declared on the standalone
    wrapper so prefixed page content parses outside its original root.
    Returns '' or a leading-space attr string."""
    seen: dict[str, str] = {}
    for m in _XMLNS_RE.finditer(preamble):
        seen[m.group(1)] = m.group(2)
    if not seen:
        return ""
    return "".join(f" {k}={v}" for k, v in seen.items())


def extract_group_records(items, dialect: str) -> tuple[list[dict], str | None]:
    """Stage 2 of the salted path: lay out one page shard.

    items: (item_type, payload, media_ref, page) tuples in reading order;
    the payload of a 'page' is a ``page_pieces`` piece and ``page`` its
    1-based position in the doc, the payload of a 'media' is its text,
    of an 'error' stage 1's quarantine error ('empty' is skipped).
    Returns (``layout_records``' records, None), or ([], the first
    error).  The shards' records concatenated in doc order are the doc's
    records."""
    content: list = []
    for item_type, payload, media_ref, page in items:
        if item_type == "media":
            content.append({"text": payload, "media_ref": media_ref})
        elif item_type == "page":
            pages, _, err = _parse(dialect, payload, page)
            if err is not None:
                return [], err
            content += pages
        elif item_type == "error":
            return [], payload
    return layout_records(content), None
