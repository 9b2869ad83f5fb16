"""Streaming kernel for HtmlSpec v1 (freki_spark/html_spec.py).

This is the implementation the Spark pipeline runs inside its Arrow
UDF batches (dispatched from ``kernel.extract_document_rows``): one
forward pass over the HTML event stream with incremental context
counters — no DOM tree is ever materialized, so peak memory per
document is the current block buffer plus the emitted records.  The
independent tree-walking reference implementation lives in
``freki_spark.html_oracle``; tests pin span-for-span equality.
Input media spans are placed by ``kernel.reading_order``, the one
anchor of every dialect: a media span's anchor is the length of the
HTML chunks whose offset is at or before its own, and it goes after the
last record whose source position is at or before that anchor.

Two parser frontends drive the same semantic state machine
(``_Machine``):

- ``html_fastscan.scan`` — a guarded C-regex tokenizer that mirrors
  stdlib HTMLParser tokenization on a clean markup subset and raises
  ``Ineligible`` on any construct it cannot provably mirror
  (the same design as the XML fast path in fastparse.py);
- ``_HtmlParserFrontend`` — stdlib ``html.parser.HTMLParser``
  (``convert_charrefs=False``), the semantics-defining slow path and
  the fallback for ineligible documents.

Scale note (100 TB design): HTML documents are web pages — document-
local work bounded by page size — so the pipeline routes every
kind='html' doc through the narrow zero-shuffle ``mapInArrow`` path
regardless of span count (see pipeline.extract).  Boilerplate
classification is a whole-document DOM property; page-group salting
(S7) has no meaning here and is never applied.
"""

from __future__ import annotations

from html.parser import HTMLParser

from . import html_spec as H
from . import kernel, spec

_BLOCK = H.BLOCK_TAGS
_STRIP = H.STRIP_TAGS
_BP = H.BOILERPLATE_TAGS
_PRE = H.PRE_TAGS
_VOID = H.VOID_TAGS
_MEDIA = H.MEDIA_TAGS
_HEADING = H.HEADING_TAGS
_SENTINEL = H.BR_SENTINEL

_WS_SEARCH = H._WS_RUN.search  # one cheap probe before the full collapse


def _piece_chars_fast(s: str) -> int:
    """== H.piece_chars(s), skipping the regex when no whitespace."""
    if _WS_SEARCH(s) is None:
        return len(s)
    return H.piece_chars(s)


class _Machine:
    """S-H2..S-H5 semantic state: stack + counters, block buffer,
    records.  Parser-agnostic — fed (start, end, data) events with
    absolute source positions by either frontend."""

    __slots__ = (
        "_stack",
        "_blocks",
        "_suppress",
        "_bp",
        "_link",
        "_pre",
        "_txt",
        "_flag",
        "_flags_or",
        "_pos0",
        "_tag0",
        "_pre0",
        "records",
    )

    def __init__(self):
        self._stack: list[str] = []
        self._blocks: list[str] = []  # open BLOCK_TAGS members
        self._suppress = 0
        self._bp = 0
        self._link = 0
        self._pre = 0
        # buffer: parallel lists (piece text, flags packed, src pos)
        self._txt: list[str] = []
        self._flag: list[int] = []  # 1=link 2=bp 4=br-sentinel
        self._flags_or = 0
        self._pos0 = 0  # src pos of first piece
        self._tag0 = "body"
        self._pre0 = False
        # (is_block, tag, words, ld, lines, pos, text, media_ref)
        self.records: list[tuple] = []

    # ---- context ----

    def _push(self, tag: str) -> None:
        self._stack.append(tag)
        if tag in _STRIP:
            self._suppress += 1
        if tag in _BP:
            self._bp += 1
        if tag == "a":
            self._link += 1
        if tag in _PRE:
            self._pre += 1
        if tag in _BLOCK:
            self._blocks.append(tag)

    def _pop_to(self, tag: str) -> bool:
        """Pop to nearest matching open tag; True if any popped element
        is block-level (flush trigger).  Unmatched: no-op, False."""
        stack = self._stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] == tag:
                popped_block = False
                for t in stack[i:]:
                    if t in _STRIP:
                        self._suppress -= 1
                    if t in _BP:
                        self._bp -= 1
                    if t == "a":
                        self._link -= 1
                    if t in _PRE:
                        self._pre -= 1
                    if t in _BLOCK:
                        self._blocks.pop()
                        popped_block = True
                del stack[i:]
                return popped_block
        return False

    # ---- buffer ----

    def data(self, text: str, pos: int, br: bool = False) -> None:
        if self._suppress:
            return
        if not self._txt:
            self._pos0 = pos
            self._tag0 = self._blocks[-1] if self._blocks else "body"
            self._pre0 = self._pre > 0
        self._txt.append(text)
        f = (1 if self._link else 0) | (2 if self._bp else 0) | (4 if br else 0)
        self._flag.append(f)
        self._flags_or |= f

    def _flush(self) -> None:
        if not self._txt:
            return
        txt, flag = self._txt, self._flag
        flags_or, self._flags_or = self._flags_or, 0
        self._txt, self._flag = [], []
        tag, pre, pos0 = self._tag0, self._pre0, self._pos0

        total = link = bp = 0
        if flags_or & 3:
            # only link/bp-flagged buffers need the density char sums:
            # with link == 0, ld == 0.0 for any total, and with bp == 0
            # the boilerplate-majority test is vacuously false.
            for t, f in zip(txt, flag):
                if f & 4:
                    continue  # br sentinel contributes no chars
                n = _piece_chars_fast(t)
                total += n
                if f & 1:
                    link += n
                if f & 2:
                    bp += n

        lines: list[str] = []
        words = 0
        for seg in "".join(txt).split(_SENTINEL):
            if pre:
                for ln in seg.split("\n"):
                    if ln.endswith("\r"):
                        ln = ln[:-1]
                    if ln.strip():
                        lines.append(ln)
                        words += H.word_count(ln)
            else:
                ln = H.collapse_ws(seg).strip(" ")
                if ln.strip():
                    lines.append(ln)
                    # already collapsed+stripped: words = spaces + 1
                    words += ln.count(" ") + 1
        if not lines:
            return

        ld = link / total if total else 0.0
        if 2 * bp > total:
            return
        if tag in _HEADING:
            keep = ld <= H.LINK_DENSITY_MAX
        elif pre:
            keep = True
        else:
            keep = words >= H.CONTENT_MIN_WORDS and ld <= H.LINK_DENSITY_MAX
        if keep:
            self.records.append((True, tag, words, ld, lines, pos0, "", ""))

    # ---- events ----

    def start(self, tag: str, attrs, pos: int) -> None:
        if tag == "br":
            self.data(_SENTINEL, pos, br=True)
            return
        if tag in _MEDIA:
            # HTML5 duplicate-attribute rule: first occurrence wins
            src = alt = None
            for k, v in attrs:
                if k == "src" and src is None:
                    src = v or ""
                elif k == "alt" and alt is None:
                    alt = v or ""
            if src and not self._suppress and not self._bp:
                self._flush()
                self.records.append((False, "", 0, 0.0, None, pos, alt or "", src))
        if tag in _BLOCK:
            self._flush()
        if tag not in _VOID:
            self._push(tag)

    def end(self, tag: str) -> None:
        if self._pop_to(tag):
            self._flush()

    def finish(self) -> list[tuple]:
        self._flush()
        return self.records


class _HtmlParserFrontend(HTMLParser):
    """Semantics-defining slow frontend (stdlib parser)."""

    def __init__(self, starts: list[int], machine: _Machine):
        super().__init__(convert_charrefs=False)
        self._starts = starts
        self._m = machine

    def _abs(self) -> int:
        lineno, col = self.getpos()
        return self._starts[lineno - 1] + col

    def handle_starttag(self, tag, attrs):
        self._m.start(tag, attrs, self._abs())

    def handle_endtag(self, tag):
        self._m.end(tag)

    def handle_data(self, data):
        if data:
            self._m.data(data.replace("\x00", H.NUL_REPLACEMENT), self._abs())

    def handle_entityref(self, name):
        self._m.data(H.decode_entityref(name), self._abs())

    def handle_charref(self, ref):
        self._m.data(H.decode_charref(ref), self._abs())


def analyze_slow(html_text: str) -> list[tuple]:
    """Force the stdlib-HTMLParser frontend (fallback + fuzz target)."""
    m = _Machine()
    fe = _HtmlParserFrontend(H.line_start_offsets(html_text), m)
    fe.feed(html_text)
    fe.close()
    return m.finish()


def analyze(html_text: str) -> list[tuple]:
    from . import html_fastscan

    m = _Machine()
    try:
        html_fastscan.scan(html_text, m)
    except html_fastscan.Ineligible:
        return analyze_slow(html_text)
    return m.finish()


def _records(dialect: str, html_text: str) -> tuple[list[tuple], list[int], str | None]:
    """``kernel.reading_order``'s ``units_of`` for HTML: the analyzed
    records and their source positions (non-decreasing by construction)."""
    try:
        records = analyze(html_text)
    except Exception as e:  # tolerant parser; belt and braces (S-H1)
        return [], [], f"html-parse-error: {e}"
    return records, [rec[5] for rec in records], None


def extract_document_rows(
    doc_id: str, spans: list[dict]
) -> tuple[list[dict], str | None]:
    """HtmlSpec v1 for one document; same contract as
    kernel.extract_document_rows (output span dicts, error)."""
    spans = sorted(spans, key=lambda s: s["offset"])
    _, items, err = kernel.reading_order(spans, _records)
    if err is not None:
        return [], err
    out: list[tuple[str, str, str]] = []
    line_no = k = 0
    for it in items:
        if isinstance(it, dict):  # an input media span
            out.append((spec.KIND_MEDIA, it["text"], it["media_ref"]))
            continue
        is_block, tag, words, ld, lines, _pos, alt, src = it
        if not is_block:
            out.append((spec.KIND_MEDIA, alt, src))
            continue
        k += 1
        header = H.render_block_header(doc_id, k, tag, words, ld, line_no + 1, line_no + len(lines))
        out.append((spec.KIND_BLOCK, header, ""))
        for ln in lines:
            line_no += 1
            out.append((spec.KIND_LINE, H.render_line(line_no, tag, ln), ""))
    return [
        {"kind": kind, "text": text, "media_ref": ref, "offset": off}
        for off, (kind, text, ref) in enumerate(out)
    ], None
