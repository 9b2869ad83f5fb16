"""Guarded regex/numpy fast path for FrekiSpec v1 §S1 parsing.

The stdlib-ElementTree parsers in ``freki_spark.kernel`` dominate the
extraction kernel's profile (~2/3 of per-doc wall, mostly ElementPath
traversal and per-glyph ``Element`` handling).  Both supported dialects
(PDFLib TETML, PDFMiner ``pdf2txt -t xml``) are machine-generated XML
with a tiny fixed vocabulary, so glyph extraction is expressible as
C-level regex scans plus vectorized numpy word assembly.

Safety contract — the fast path must be **observationally identical**
to the ET path (span equality is the engine's core invariant):

1. *Acceptance* is decided by the same C parser ET wraps: a bare
   ``xml.parsers.expat`` parse (namespace-aware, no handlers, no tree)
   validates well-formedness first and re-raises as
   ``xml.etree.ElementTree.ParseError`` with expat's message — the
   kernel's quarantine behavior (which docs error, and the error text)
   cannot diverge from the ET path.
2. *Eligibility* is checked before anything else by cheap C string
   scans; any construct that could make a flat regex scan disagree
   with a tree walk (comments/CDATA/DOCTYPE, processing instructions
   past the prologue, ``>`` inside attribute values or text — detected
   via ``count('<') != count('>')`` — or non-predefined entity
   references) falls back to the ET parser, as does any structural
   anomaly discovered during extraction (returns ``None``).
3. Each S1 rule is stated once.  ``page_cuts`` cuts a doc into pages
   once for both extraction paths, on the spec's page markers
   (``spec.PAGE_START_RE``/``spec.PAGE_END_RE``): the fast parsers walk
   its cuts (``_cut_pages``: eligibility, validation, then each page's
   blob and body), the media anchor reads its starts and S7 cuts its
   page pieces there.  What a page, word, box and glyph font mean lives
   on the page class the parsers are handed (``kernel.PageTokens``):
   the page rule of each dialect
   (``tetml_page``/``pdfminer_page``), the TETML word and box rules
   (``add_word``, ``tet_box``) and the per-doc ``(font, size)`` ->
   font-key table (``FontKeys``).  The ET walks use the same ones, so
   attribute defaults, float/int conversions and the exception they
   raise cannot drift apart.  A PDFMiner glyph bbox has exactly four
   fields on the fast path; any other arity falls back, and so does a
   glyph value error (the fast path converts boxes after sizes, the ET
   walk reports the first bad value in document order).

Assumption shared with the ET path: the dialects' page / word /
textline elements do not nest within themselves (true for both
generators; nested same-name elements would already confuse the ET
walk's ``.//`` + direct-children mix in other ways).

Reference parity target: freki/analyzers/{tetml,pdfminer}.py in
pvk444/freki [U] (mount empty at build time — SURVEY.md §0).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from xml.parsers import expat

import numpy as np

from . import spec
from .grammar import mode_first

# --------------------------------------------------------------------------
# eligibility + validation
# --------------------------------------------------------------------------

# every '&' must be one of the five predefined refs or a char ref —
# anything else (undefined entity, bare '&') goes to the ET path
_ENT_OK = re.compile(r"&(?:amp|lt|gt|quot|apos|#[0-9]{1,7}|#x[0-9a-fA-F]{1,6});")
_ENT_RE = re.compile(r"&(?:(amp|lt|gt|quot|apos)|#([0-9]+)|#x([0-9a-fA-F]+));")
_PREDEF = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def fast_eligible(xml: str) -> bool:
    if "<!" in xml:  # comments, CDATA, DOCTYPE
        return False
    q = xml.find("<?")
    if q > 0 or (q == 0 and xml.find("<?", 2) != -1):
        return False  # processing instruction past a pos-0 prologue
    if q == 0 and not xml.startswith(("<?xml ", "<?xml\t", "<?xml\r", "<?xml\n")):
        # pos-0 '<?' must be a true XML declaration ('xml' is a
        # forbidden PI target, so the prefix is unambiguous): a
        # document-leading PI like '<?pi <Page ...> ?>' holds raw text
        # the flat scan would read as markup while ET ignores it
        return False
    if xml.count("<") != xml.count(">"):
        return False  # '>' inside attr values or text
    namp = xml.count("&")
    if namp and len(_ENT_OK.findall(xml)) != namp:
        return False
    return True


def validate(xml: str) -> None:
    """Well-formedness check with the same C parser ET uses (namespace
    separator '}' matches ET.XMLParser), no handlers, no tree."""
    p = expat.ParserCreate(None, "}")
    try:
        p.Parse(xml, True)
    except expat.ExpatError as e:
        raise ET.ParseError(str(e)) from None


def _ent_sub(m: re.Match) -> str:
    if m.group(1):
        return _PREDEF[m.group(1)]
    if m.group(2):
        return chr(int(m.group(2)))
    return chr(int(m.group(3), 16))


def _unesc(s: str) -> str:
    return _ENT_RE.sub(_ent_sub, s) if "&" in s else s


def _normalize(xml: str) -> str:
    """XML 1.0 line-ending normalization (performed by expat before
    tokenization): \\r\\n and bare \\r become \\n.  Character references
    (&#13;) are exempt — _unesc runs later, so the order is correct."""
    if "\r" in xml:
        xml = xml.replace("\r\n", "\n").replace("\r", "\n")
    return xml


# --------------------------------------------------------------------------
# shared bits
# --------------------------------------------------------------------------

# anchored sequential attribute scan: names take ANY non-delimiter
# chars (XML NameChars include codepoints outside \w, e.g. U+00B7 —
# a findall scan could skip such a name and then "find" a fake
# attribute inside its quoted value); any residue the scan cannot
# account for means the blob shape is beyond this parser -> None,
# and the caller falls back to the ET path instead of guessing
_ATTR_SEQ = re.compile(r"\s*([^\s=/>]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)')")


def _attrs(blob: str) -> dict[str, str] | None:
    out: dict[str, str] = {}
    i = 0
    while True:
        m = _ATTR_SEQ.match(blob, i)
        if m is None:
            break
        dq, sq = m.group(2), m.group(3)
        v = dq if dq is not None else sq
        # XML attribute-value normalization: raw whitespace chars
        # become spaces (referenced chars like &#10; are exempt —
        # _unesc runs after, matching processor order)
        if "\n" in v or "\t" in v:
            v = v.replace("\n", " ").replace("\t", " ")
        out[m.group(1)] = _unesc(v)
        i = m.end()
    rest = blob[i:].strip()
    if rest and rest != "/":
        return None
    return out


# the rest of a page's open tag: its attribute blob, read quote-aware
# (a '>' inside a quoted value does not end the tag)
_OPEN_REST = re.compile(r"""((?:[^>"']|"[^"]*"|'[^']*')*)>""")


def page_cuts(dialect: str, xml: str) -> list[tuple]:
    """The one page cut of a doc's joined XML, for both extraction
    paths.  Per ``spec.PAGE_START_RE`` match (normative, shared with the
    oracle), in document order and in ``xml``'s own coordinates:
    ``(start, blob, body, end)``.  ``blob`` is the open tag's attribute
    blob (None when the tag does not close before the next page start,
    which well-formed, fast-eligible XML never does) and ``body`` the
    text between the open tag and the close tag.  ``end`` is the end
    of the first ``spec.PAGE_END_RE`` match before the next page start;
    else, for a self-closing page, the end of its open tag (an empty
    body); else None, with a None body: the pages nest."""
    close = spec.PAGE_END_RE[dialect]
    opens = list(spec.PAGE_START_RE[dialect].finditer(xml))
    cuts = []
    for i, m in enumerate(opens):
        stop = opens[i + 1].start() if i + 1 < len(opens) else len(xml)
        tag = _OPEN_REST.match(xml, m.end(), stop)
        blob, at = (tag.group(1), tag.end()) if tag else (None, m.end())
        c = close.search(xml, at, stop)
        if c is not None:
            cuts.append((m.start(), blob, xml[at : c.start()], c.end()))
        elif blob is not None and blob.endswith("/"):
            cuts.append((m.start(), blob, "", at))
        else:
            cuts.append((m.start(), blob, None, None))
    return cuts


def _cut_pages(xml: str, cuts: list[tuple], page_of):
    """The page walk of both fast parsers over ``xml``'s ``page_cuts``.
    Checks ``fast_eligible``, then ``validate`` (raises ET.ParseError),
    and yields ``(page_of(attrs.get), body)`` per page in document
    order, lazily, so a doc meets its errors and fallbacks in document
    order.  Line endings are normalized per blob and body (a tag's '<'
    or '>' bounds each, so no \\r\\n straddles two).  Yields None (= use
    the ET path) for an ineligible doc, a page attribute blob ``_attrs``
    cannot read, or a page without an end (nested pages: ET's ``.//``
    walk would visit the inner words twice)."""
    if not fast_eligible(xml):
        yield None
        return
    validate(xml)
    for _, blob, body, _ in cuts:
        attrs = _attrs(_normalize(blob))
        if attrs is None:
            yield None
            return
        page = page_of(attrs.get)
        if body is None:
            yield None
            return
        yield page, _normalize(body)


# --------------------------------------------------------------------------
# TETML
# --------------------------------------------------------------------------

# one alternation, matched in document order.  Every tag (including
# unknown ones) is matched so the walk can track element depth inside
# a Word — the ET parser reads ONLY DIRECT children of <Word>, so
# Text/Box/Glyph nested deeper (e.g. a Glyph inside a non-self-closed
# Box) must be ignored exactly like ET ignores them.
# findall tuple indices:
#  0 ws   1 wattr  2 we    3 tx    4 tattr  5 txt   6 te
#  7 bx   8 battr  9 be   10 gl   11 gattr 12 gtxt 13 ge
# 14 go  15 goattr           (go starts with '/' for generic closes)
_TET_EV = re.compile(
    r"<(?:"
    r"(?P<ws>(?:[\w.-]+:)?Word)(?=[\s/>])(?P<wattr>[^>]*)>"
    r"|(?P<we>/(?:[\w.-]+:)?Word)\s*>"
    r"|(?P<tx>(?:[\w.-]+:)?Text)(?=[\s/>])(?P<tattr>[^>]*)>(?P<txt>[^<]*)"
    r"|(?P<te>/(?:[\w.-]+:)?Text)>"
    r"|(?P<bx>(?:[\w.-]+:)?Box)(?=[\s/>])(?P<battr>[^>]*)>"
    r"|(?P<be>/(?:[\w.-]+:)?Box)>"
    r"|(?P<gl>(?:[\w.-]+:)?Glyph)(?=[\s/>])(?P<gattr>[^>]*)>(?P<gtxt>[^<]*)"
    r"|(?P<ge>/(?:[\w.-]+:)?Glyph)>"
    r"|(?P<go>/?[\w.:-]+)(?=[\s/>])(?P<goattr>[^>]*)>"
    r")"
)
# strict patterns exclude entity/whitespace-normalization triggers
# from the value classes — such values fall through to the generic
# _attrs path, which normalizes and unescapes like a real XML parser.
# _BOX_FAST's groups are in ``PageTokens.tet_box``'s order.
_BOX_FAST = re.compile(
    r'\s*llx="([^"&\n\t]*)"\s+lly="([^"&\n\t]*)"'
    r'\s+urx="([^"&\n\t]*)"\s+ury="([^"&\n\t]*)"\s*/?\s*$'
)


def parse_tetml_fast(xml: str, cuts: list[tuple], page_cls) -> list | None:
    """Returns list[PageTokens] or None (= use the ET path); ``cuts`` are
    ``page_cuts(KIND_TETML, xml)``.  Raises ET.ParseError on malformed
    XML (identical expat message)."""
    pages: list = []
    fonts = page_cls.FontKeys()
    blob_fk: dict[str, str] = {}  # glyph attribute blob -> font key
    for cut in _cut_pages(xml, cuts, page_cls.tetml_page):
        if cut is None:
            return None
        cur, body = cut
        in_word = False
        w_text: str | None = None
        w_box: tuple | None = None
        w_fonts: list[str] = []
        # wdepth = element depth relative to the Word interior; ET only
        # reads DIRECT children (wdepth == 0).  Every open tag that is
        # not self-closing increments it; every close tag decrements.
        wdepth = 0
        for t in _TET_EV.findall(body):
            if t[10]:  # <Glyph ...>text
                ga = t[11]
                if in_word and wdepth == 0:
                    fk = blob_fk.get(ga)
                    if fk is None:
                        d = _attrs(ga)
                        if d is None:
                            return None
                        fk = blob_fk[ga] = fonts.of(d.get)
                    w_fonts.append(fk)
                if in_word and not ga.rstrip().endswith("/"):
                    wdepth += 1
            elif t[13]:  # </Glyph>
                if in_word and wdepth:
                    wdepth -= 1
            elif t[3]:  # <Text ...>text
                ta = t[4]
                sc = ta.rstrip().endswith("/")
                if in_word and wdepth == 0:
                    # ET's walk is last-wins `text = ch.text`: a
                    # self-closing <Text/> resets the text to None
                    w_text = None if sc else _unesc(t[5])
                if in_word and not sc:
                    wdepth += 1
            elif t[6]:  # </Text>
                if in_word and wdepth:
                    wdepth -= 1
            elif t[7]:  # <Box ...>
                ba = t[8]
                if in_word and wdepth == 0:
                    bf = _BOX_FAST.match(ba)
                    if bf:
                        w_box = tuple(map(float, bf.groups()))
                    else:
                        d = _attrs(ba)
                        if d is None:
                            return None
                        w_box = page_cls.tet_box(d.get)
                if in_word and not ba.rstrip().endswith("/"):
                    wdepth += 1
            elif t[9]:  # </Box>
                if in_word and wdepth:
                    wdepth -= 1
            elif t[0]:  # <Word ...>
                if in_word:
                    # nested <Word> (never in real TETML): ET's .//Word
                    # walk has cross-cutting semantics a flat scan can't
                    # mirror — fall back
                    return None
                in_word = not t[1].rstrip().endswith("/")  # <Word/> is empty
                w_text = w_box = None
                w_fonts = []
                wdepth = 0
            elif t[2]:  # </Word>
                if in_word:
                    cur.add_word(w_text, w_box, w_fonts)
                    in_word = False
            else:  # any other tag (t[14]): track depth inside a word
                if in_word:
                    go = t[14]
                    if go.startswith("/"):
                        if wdepth:
                            wdepth -= 1
                    elif not t[15].rstrip().endswith("/"):
                        wdepth += 1
        if in_word:  # a word still open at the page close
            cur.add_word(w_text, w_box, w_fonts)
        cur.freeze()
        pages.append(cur)
    return pages


# --------------------------------------------------------------------------
# PDFMiner XML (vectorized: one findall per page + numpy reduceat)
# --------------------------------------------------------------------------

# findall tuple indices:
#  0 strict-marker('font') 1 font 2 bbox 3 size 4 text
#  5 generic-marker('<text') 6 attr-blob 7 text
#  8 close-slash 9 textline-marker 10 textline-selfclose-slash
# all element names accept an optional namespace prefix (matching the
# ET walk's wildcard-namespace iterfind).  The strict glyph's bbox has
# exactly four fields; any other arity takes the generic branch, which
# falls back to the ET path.
_PDM_EV = re.compile(
    r'<(?:[\w.-]+:)?text\s+(font)="([^"&\n\t]*)"'
    r'\s+bbox="([^",&\n\t]*,[^",&\n\t]*,[^",&\n\t]*,[^",&\n\t]*)"(?:[^>]*?\s)?'
    r'size="([^"&\n\t]*)"\s*>'
    r"([^<]*)</(?:[\w.-]+:)?text>"
    r"|(<(?:[\w.-]+:)?text)(?=[\s/>])((?:\s[^>]*)?/?)>([^<]*)(?:</(?:[\w.-]+:)?text>)?"
    r"|<(/?)((?:[\w.-]+:)?textline)(?=[\s/>])[^>]*?(/?)>"
)


# --------------------------------------------------------------------------
# NOTE — negative result, do not retry (measured 2026-08-17, quiet
# window): a "vectorized" third tier that findall'd the whole page
# into a 10-group column array and classified glyphs with numpy ops
# ran at 0.5x the event loop below.  np.char.* dispatches per element
# (no C string kernels) and np.array() over a list of match tuples
# costs ~0.3 ms per 3k-glyph page — both swamp the ~1.2 µs/glyph of
# the tuned python loop.  The loop + one reduceat word assembly at
# page end (_assemble_words) is the fast configuration.
# --------------------------------------------------------------------------

def parse_pdfminer_fast(xml: str, cuts: list[tuple], page_cls) -> list | None:
    pages: list = []
    fonts = page_cls.FontKeys()
    for cut in _cut_pages(xml, cuts, page_cls.pdfminer_page):
        if cut is None:
            return None
        cur, body = cut
        has_amp = "&" in body

        # flat event scan: glyph texts/bboxes/fonts + word-id per glyph
        texts: list[str] = []
        bboxs: list[str] = []
        fkeys: list[str] = []
        wids: list[int] = []
        wid = 0
        open_word = False
        in_tl = 0
        # bind hot-loop lookups to locals (~15% on append-heavy scans)
        t_app, b_app, f_app, w_app = (
            texts.append,
            bboxs.append,
            fkeys.append,
            wids.append,
        )
        # a glyph value error falls back: sizes are converted here,
        # boxes in _assemble_words, and the ET walk reports the first
        # bad value in document order (page-rule errors still raise)
        try:
            for ev in _PDM_EV.findall(body):
                if ev[0]:  # strict glyph
                    if not in_tl:
                        continue
                    t = _unesc(ev[4]) if has_amp else ev[4]
                    if not t or t.isspace():
                        if open_word:
                            wid += 1
                            open_word = False
                        continue
                    t_app(t)
                    b_app(ev[2])
                    f_app(fonts[ev[1], ev[3]])
                    w_app(wid)
                    open_word = True
                elif ev[9]:  # textline open/close -> word break
                    if ev[8]:  # </textline>
                        in_tl -= 1
                        if in_tl < 0:
                            return None  # stray close: bail to ET path
                    elif not ev[10]:  # <textline ...> (self-closing = empty
                        in_tl += 1  # textline: no depth change, still a break)
                        if in_tl > 1:
                            # nested textlines: ET's .// walk would visit
                            # inner glyphs twice — fall back
                            return None
                    if open_word:
                        wid += 1
                        open_word = False
                else:  # generic glyph (attr layout deviates from pdfminer's)
                    if not in_tl:
                        continue
                    blob = ev[6]
                    if not blob or blob == "/":
                        # attr-less glyph (<text> </text> — one per word in
                        # pdfminer output): no bbox -> always a word break;
                        # skip the _attrs regex entirely
                        if open_word:
                            wid += 1
                            open_word = False
                        continue
                    # self-closing <text .../> has no element text (the regex
                    # text group grabs the following inter-tag run) -> ET
                    # sees text=None -> word break
                    selfclosed = blob.rstrip().endswith("/")
                    t = "" if selfclosed else (_unesc(ev[7]) if has_amp else ev[7])
                    d = _attrs(blob)
                    if d is None:
                        return None
                    bbox = d.get("bbox")
                    if not t or t.isspace() or bbox is None:
                        if open_word:
                            wid += 1
                            open_word = False
                        continue
                    if bbox.count(",") != 3:
                        return None  # ET path raises differently; don't guess
                    t_app(t)
                    b_app(bbox)
                    f_app(fonts.of(d.get))
                    w_app(wid)
                    open_word = True

            if texts:
                _assemble_words(cur, texts, bboxs, fkeys, wids)
        except ValueError:
            return None
        cur.freeze()
        pages.append(cur)
    return pages


def _assemble_words(cur, texts, bboxs, fkeys, wids) -> None:
    """Glyph columns -> words on `cur` (numpy reduceat); every glyph
    bbox has exactly four fields."""
    box = np.array(",".join(bboxs).split(","), dtype=np.float64).reshape(-1, 4)
    wa = np.asarray(wids, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, wa[1:] != wa[:-1]])
    bounds = np.r_[starts, len(texts)]
    # word bbox = min/max over member glyphs (same floats as the
    # ET path's python min/max — both exact over float64)
    wllx = np.minimum.reduceat(box[:, 0], starts)
    wlly = np.minimum.reduceat(box[:, 1], starts)
    wurx = np.maximum.reduceat(box[:, 2], starts)
    wury = np.maximum.reduceat(box[:, 3], starts)
    for k in range(len(starts)):
        a, b = int(bounds[k]), int(bounds[k + 1])
        cur.add(
            "".join(texts[a:b]),
            float(wllx[k]),
            float(wlly[k]),
            float(wurx[k]),
            float(wury[k]),
            fkeys[a] if b - a == 1 else fkeys[a + mode_first(fkeys[a:b])],
        )
