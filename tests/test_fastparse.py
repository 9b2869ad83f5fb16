"""Fast-parser (fastparse.py) vs ET-parser equivalence and fallback
behavior.  The golden/parity suites already exercise the fast path end
to end (the kernel wrappers route through it); these tests pin the
guard rails: which constructs fall back, and that tricky-but-eligible
constructs produce byte-identical tokens."""

from __future__ import annotations

import functools

import numpy as np
import pytest
import xml.etree.ElementTree as ET

from hypothesis import given, settings
from hypothesis import strategies as st

from freki_spark import fastparse, spec
from freki_spark.kernel import (
    PageTokens,
    _parse,
    _parse_pdfminer_et,
    _parse_tetml_et,
    parse_pdfminer,
    parse_tetml,
)

# a doc's page cuts in each dialect, which the parsers walk
_tet_cuts = functools.partial(fastparse.page_cuts, spec.KIND_TETML)
_pdm_cuts = functools.partial(fastparse.page_cuts, spec.KIND_PDFMINER)


def _same(fast: list, et: list) -> None:
    assert fast is not None
    assert len(fast) == len(et)
    for a, b in zip(fast, et):
        assert (a.number, a.width, a.height) == (b.number, b.width, b.height)
        assert a.texts == b.texts
        assert a.fkeys == b.fkeys
        assert np.array_equal(a.box, b.box)


TET = (
    '<TET><Document><Pages><Page number="1" width="612.00" height="792.00">'
    "<Content>"
    "<Word><Text>{t1}</Text>"
    '<Box llx="72.00" lly="700.00" urx="100.00" ury="712.00"/>'
    '<Glyph font="F0" size="12.0">h</Glyph></Word>'
    "<Word><Text>{t2}</Text>"
    '<Box llx="110.00" lly="700.00" urx="140.00" ury="712.00"/>'
    '<Glyph font="F0" size="12.0">w</Glyph>'
    '<Glyph font="F1" size="9.0">o</Glyph>'
    '<Glyph font="F0" size="12.0">r</Glyph></Word>'
    "</Content></Page></Pages></Document></TET>"
)

PDM = (
    '<pages><page id="1" bbox="0.000,0.000,612.000,792.000"><textbox id="0">'
    '<textline bbox="72.000,700.000,200.000,712.000">'
    '<text font="F0" bbox="72.000,700.000,78.000,712.000" size="12.0">{c1}</text>'
    '<text font="F0" bbox="78.000,700.000,84.000,712.000" size="12.0">i</text>'
    "<text> </text>"
    '<text font="F1" bbox="95.000,700.000,101.000,712.000" size="9.0">x</text>'
    "</textline></textbox></page></pages>"
)


def test_tetml_fast_equals_et_basic():
    xml = TET.format(t1="hello", t2="world")
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))


def test_pdfminer_fast_equals_et_basic():
    xml = PDM.format(c1="h")
    _same(fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens), _parse_pdfminer_et(xml))


def test_entities_unescaped_identically():
    xml = TET.format(t1="a&amp;b", t2="x&lt;y&#65;")
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))
    xml2 = PDM.format(c1="&gt;")
    _same(fastparse.parse_pdfminer_fast(xml2, _pdm_cuts(xml2), PageTokens), _parse_pdfminer_et(xml2))


def test_charref_whitespace_glyph_breaks_word_like_et():
    # &#32; unescapes to a space -> ET treats the glyph as a word break;
    # the fast path must unescape BEFORE the whitespace test
    xml = PDM.format(c1="&#32;")
    _same(fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens), _parse_pdfminer_et(xml))


def test_selfclosing_text_glyph_parity():
    xml = PDM.replace(
        "<text> </text>",
        '<text font="F0" bbox="85.000,700.000,90.000,712.000" size="12.0"/>',
    ).format(c1="h")
    _same(fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens), _parse_pdfminer_et(xml))


def test_default_namespace_tetml_parity():
    xml = TET.format(t1="ns", t2="doc").replace(
        "<TET>", '<TET xmlns="http://www.pdflib.com/XML/TET3/TET-3.0">'
    )
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda x: x.replace("<Word>", "<!-- c --><Word>", 1),  # comment
        lambda x: x.replace("<Word>", "<?pi data?><Word>", 1),  # mid-doc PI
        lambda x: x.replace('font="F0"', 'font="a&gt;b"', 1).replace(
            "world", "w>rld", 1
        ),  # '>' imbalance via raw '>' in text
        lambda x: x.replace("hello", "a&unknown;b", 1),  # undefined entity
    ],
)
def test_ineligible_constructs_fall_back(mutate):
    xml = mutate(TET.format(t1="hello", t2="world"))
    assert fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens) is None
    # and the public wrapper still gives the ET answer (or its error)
    try:
        et = _parse_tetml_et(xml)
    except (ET.ParseError, ValueError, TypeError):
        with pytest.raises((ET.ParseError, ValueError, TypeError)):
            parse_tetml(xml, _tet_cuts(xml))
    else:
        _same(parse_tetml(xml, _tet_cuts(xml)), et)


def test_truncated_xml_raises_parse_error_via_wrapper():
    xml = TET.format(t1="hello", t2="world")[:-30]
    with pytest.raises(ET.ParseError):
        parse_tetml(xml, _tet_cuts(xml))
    # same acceptance decision as ET itself
    with pytest.raises(ET.ParseError):
        _parse_tetml_et(xml)


def test_wellformed_but_eligible_truncation_matches_et():
    # truncation that keeps '<'/'>' balanced: both paths must agree
    xml = TET.format(t1="hello", t2="world")
    cut = xml[: xml.rindex("</Word>")]
    try:
        et_pages = _parse_tetml_et(cut)
        et_err = None
    except ET.ParseError as e:
        et_pages, et_err = None, str(e)
    if et_err is None:
        _same(parse_tetml(cut, _tet_cuts(cut)), et_pages)
    else:
        with pytest.raises(ET.ParseError) as ei:
            parse_tetml(cut, _tet_cuts(cut))
        assert str(ei.value) == et_err  # expat message identical


def test_empty_and_selfclosing_pages():
    xml = (
        "<TET><Document><Pages>"
        '<Page number="1" width="600" height="800"/>'
        '<Page number="2" width="612" height="792"><Content></Content></Page>'
        "</Pages></Document></TET>"
    )
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))


def test_fast_path_engages_on_clean_fixture_docs():
    """Perf guard: every non-corrupt fixture doc must take the fast
    path (a silent fall-everything-back-to-ET regression would keep
    tests green while halving kernel throughput)."""
    from freki_spark import spec
    from freki_spark.fixtures import fixture_matrix

    n_fast = n_docs = 0
    for d in fixture_matrix():
        if d["doc_id"].startswith("fx-corrupt"):
            continue
        spans = sorted(d["spans"], key=lambda s: s["offset"])
        chunks = [s for s in spans if s["kind"] in spec.XML_KINDS]
        if not chunks:
            continue
        xml = "".join(c["text"] for c in chunks)
        fn = (
            fastparse.parse_tetml_fast
            if chunks[0]["kind"] == spec.KIND_TETML
            else fastparse.parse_pdfminer_fast
        )
        n_docs += 1
        if fn(xml, fastparse.page_cuts(chunks[0]["kind"], xml), PageTokens) is not None:
            n_fast += 1
    assert n_docs > 0 and n_fast == n_docs


def test_nested_glyph_inside_box_ignored_like_et():
    # ET reads only DIRECT children of <Word>; a Glyph nested inside a
    # non-self-closed Box must not contribute to the font vote
    xml = (
        "<TET><Pages><Page number=\"1\" width=\"612\" height=\"792\"><Content>"
        "<Word><Text>hi</Text>"
        '<Box llx="72.00" lly="700.00" urx="100.00" ury="712.00">'
        '<Glyph font="G9" size="8.0">h</Glyph></Box>'
        '<Glyph font="F0" size="12.0">i</Glyph></Word>'
        "</Content></Page></Pages></TET>"
    )
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))


def test_selfclosing_text_tail_not_fabricated():
    # <Text/> has no element text; the following inter-tag run must not
    # become a word (ET: ch.text is None -> word dropped)
    xml = (
        "<TET><Pages><Page number=\"1\" width=\"612\" height=\"792\"><Content>"
        "<Word><Text/>abc"
        '<Box llx="72.00" lly="700.00" urx="100.00" ury="712.00"/>'
        '<Glyph font="F0" size="12.0">a</Glyph></Word>'
        "</Content></Page></Pages></TET>"
    )
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))


def test_prefixed_pdfminer_parity():
    xml = (
        '<m:pages xmlns:m="urn:x"><m:page id="1" bbox="0,0,612,792">'
        '<m:textline bbox="72,700,200,712">'
        '<m:text font="F0" bbox="72,700,78,712" size="12.0">a</m:text>'
        '<m:text font="F0" bbox="78,700,84,712" size="12.0">b</m:text>'
        "</m:textline></m:page></m:pages>"
    )
    fast = fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens)
    et = _parse_pdfminer_et(xml)
    if fast is not None:
        _same(fast, et)
        assert et[0].texts == ["ab"]  # and tokens actually extracted


def test_textline_lookalike_and_selfclosing_parity():
    # <textlineX> must not toggle the textline state; a self-closing
    # <textline/> opens-and-closes (still a word break, no depth leak)
    xml = (
        '<pages><page id="1" bbox="0,0,612,792"><textbox id="0">'
        '<textlineX><text font="F9" bbox="1,1,2,2" size="9.0">Z</text></textlineX>'
        '<textline bbox="70,1,80,2"/>'
        '<textline bbox="72,700,200,712">'
        '<text font="F0" bbox="72,700,78,712" size="12.0">a</text>'
        "</textline></textbox></page></pages>"
    )
    _same(fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens), _parse_pdfminer_et(xml))


def test_nested_word_falls_back():
    # ET's .//Word emits BOTH the outer and inner word (outer first,
    # collecting its direct children wherever they sit relative to the
    # inner subtree) — a flat scan can't mirror that, so: fallback
    xml = (
        '<TET><Pages><Page number="1" width="612" height="792"><Content>'
        "<Word>"
        '<Word><Text>in</Text><Box llx="1" lly="2" urx="3" ury="4"/>'
        '<Glyph font="F1" size="9.0">i</Glyph></Word>'
        '<Text>out</Text><Box llx="5" lly="6" urx="7" ury="8"/>'
        '<Glyph font="F0" size="12.0">o</Glyph>'
        "</Word>"
        "</Content></Page></Pages></TET>"
    )
    assert fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens) is None
    et = _parse_tetml_et(xml)
    _same(parse_tetml(xml, _tet_cuts(xml)), et)  # wrapper serves the ET answer
    assert et[0].texts == ["out", "in"]


def test_nested_textline_falls_back():
    # ET's .//textline visits inner glyphs twice (once via the outer
    # textline's descendant scan, once via the inner) — fall back
    xml = (
        '<pages><page id="1" bbox="0,0,612,792"><textbox id="0">'
        '<textline bbox="72,700,200,712">'
        '<text font="F0" bbox="72,700,78,712" size="12.0">a</text>'
        '<textline bbox="72,690,200,700">'
        '<text font="F0" bbox="72,690,78,700" size="12.0">b</text>'
        "</textline></textline></textbox></page></pages>"
    )
    assert fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens) is None
    _same(parse_pdfminer(xml, _pdm_cuts(xml)), _parse_pdfminer_et(xml))


def test_nested_page_falls_back():
    xml = (
        "<TET><Pages>"
        '<Page number="1" width="612" height="792"><Content>'
        '<Page number="2" width="612" height="792"><Content>'
        "<Word><Text>x</Text>"
        '<Box llx="1" lly="2" urx="3" ury="4"/></Word>'
        "</Content></Page>"
        "</Content></Page>"
        "</Pages></TET>"
    )
    assert fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens) is None
    _same(parse_tetml(xml, _tet_cuts(xml)), _parse_tetml_et(xml))


def test_glyphs_outside_textline_skipped_like_et():
    xml = (
        '<pages><page id="1" bbox="0,0,612,792"><textbox id="0">'
        '<text font="F9" bbox="10,10,20,20" size="9.0">Z</text>'
        '<textline bbox="72,700,200,712">'
        '<text font="F0" bbox="72,700,78,712" size="12.0">a</text>'
        "</textline></textbox></page></pages>"
    )
    _same(fastparse.parse_pdfminer_fast(xml, _pdm_cuts(xml), PageTokens), _parse_pdfminer_et(xml))


# ---------------------------------------------------------------------------
# fuzz: adversarial text/attr content must never diverge from ET —
# either byte-identical tokens, or a fallback (None), or both raising
# ---------------------------------------------------------------------------

_xml_escape = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}


def _esc(s: str) -> str:
    return "".join(_xml_escape.get(c, c) for c in s)


_texty = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), include_characters=" &<>\"'"
    ),
    max_size=12,
)


@given(t1=_texty, t2=_texty, font=_texty)
@settings(max_examples=120, deadline=None)
def test_fuzz_tetml_fast_vs_et(t1, t2, font):
    xml = TET.format(t1=_esc(t1), t2=_esc(t2)).replace(
        'font="F0"', f'font="{_esc(font)}"'
    )
    _assert_consistent(xml, _tet_cuts(xml), fastparse.parse_tetml_fast, _parse_tetml_et)


@given(c1=_texty)
@settings(max_examples=120, deadline=None)
def test_fuzz_pdfminer_fast_vs_et(c1):
    xml = PDM.format(c1=_esc(c1))
    _assert_consistent(xml, _pdm_cuts(xml), fastparse.parse_pdfminer_fast, _parse_pdfminer_et)


_ATTR_POOL = [
    ('llx="72.00" lly="700.00" urx="100.00" ury="712.00"', "Box"),
    ('font="F0" size="12.0"', "Glyph"),
]


@st.composite
def _tet_element(draw, depth):
    """Random TETML-vocabulary element with arbitrary nesting and
    self-closing — stresses the direct-children depth tracking."""
    name = draw(st.sampled_from(["Word", "Text", "Box", "Glyph", "Foo", "nest"]))
    if name == "Box":
        attrs = ' llx="72.00" lly="700.00" urx="100.00" ury="712.00"'
    elif name == "Glyph":
        attrs = ' font="F0" size="12.0"'
    else:
        attrs = ""
    if draw(st.booleans()):
        return f"<{name}{attrs}/>"
    if depth >= 2:
        inner = draw(st.text(alphabet="ab c", max_size=4))
    else:
        n_kids = draw(st.integers(0, 2))
        kids = [draw(_tet_element(depth + 1)) for _ in range(n_kids)]
        inner = draw(st.text(alphabet="ab c", max_size=4)) + "".join(kids)
    return f"<{name}{attrs}>{inner}</{name}>"


@st.composite
def _tet_structural_doc(draw):
    n = draw(st.integers(1, 5))
    body = "".join(draw(_tet_element(0)) for _ in range(n))
    return (
        '<TET><Pages><Page number="1" width="612" height="792"><Content>'
        + body
        + "</Content></Page></Pages></TET>"
    )


@given(_tet_structural_doc())
@settings(max_examples=150, deadline=None)
def test_fuzz_tetml_structure_fast_vs_et(xml):
    _assert_consistent(xml, _tet_cuts(xml), fastparse.parse_tetml_fast, _parse_tetml_et)
    _assert_starts_are_the_spec_marker(spec.KIND_TETML, xml)


@st.composite
def _pdm_glyph(draw):
    """Random PDFMiner glyph: pdfminer's attribute order (the strict
    scan), another order (the generic scan) or no attributes; a word
    or whitespace text; a bbox of 2-6 fields."""
    layout = draw(st.sampled_from(["strict", "strict", "strict", "generic", "bare"]))
    text = draw(st.sampled_from(["a", "bc", "d", " ", "\t"]))
    if layout == "bare":
        return f"<text>{text}</text>"
    n = draw(st.sampled_from([2, 3, 4, 4, 5, 6]))
    bbox = ",".join(str(draw(st.integers(0, 99))) for _ in range(n))
    font, size = draw(st.sampled_from([("F0", "12.0"), ("F1", "9.0")]))
    if layout == "strict":
        return f'<text font="{font}" bbox="{bbox}" size="{size}">{text}</text>'
    return f'<text size="{size}" bbox="{bbox}" font="{font}">{text}</text>'


@st.composite
def _pdm_structural_doc(draw):
    pages = []
    for p in range(1, draw(st.integers(1, 2)) + 1):
        lines = "".join(
            '<textline bbox="0,0,1,1">'
            + "".join(draw(st.lists(_pdm_glyph(), min_size=1, max_size=4)))
            + "</textline>"
            for _ in range(draw(st.integers(1, 3)))
        )
        pages.append(f'<page id="{p}" bbox="0,0,612,792"><textbox id="0">{lines}</textbox></page>')
    return "<pages>" + "".join(pages) + "</pages>"


@given(_pdm_structural_doc())
@settings(max_examples=150, deadline=None)
def test_fuzz_pdfminer_structure_fast_vs_et(xml):
    _assert_consistent(xml, _pdm_cuts(xml), fastparse.parse_pdfminer_fast, _parse_pdfminer_et)
    _assert_starts_are_the_spec_marker(spec.KIND_PDFMINER, xml)


def _assert_starts_are_the_spec_marker(dialect, xml):
    """The page starts the media anchor reads are the spec's page start
    matches (normative, shared with the oracle), in the raw text."""
    assert _parse(dialect, xml)[1] == [m.start() for m in spec.PAGE_START_RE[dialect].finditer(xml)]


# the errors kernel._parse quarantines
_CONTENT_ERRORS = (ET.ParseError, ValueError, TypeError, IndexError)


def _outcome(parse, *args):
    """(pages, None) or (None, (exception type, message))."""
    try:
        return parse(*args), None
    except _CONTENT_ERRORS as e:
        return None, (type(e), str(e))


def _assert_consistent(xml, cuts, fast, et):
    """The ET walk gives pages or a quarantined error on every doc; the
    fast path falls back (None) or gives the ET walk's answer: the same
    pages, or the same error."""
    ep, e_err = _outcome(et, xml)
    fp, f_err = _outcome(fast, xml, cuts, PageTokens)
    if fp is None and f_err is None:
        return  # fallback: wrapper would produce the ET answer
    assert f_err == e_err
    if ep is not None:
        _same(fp, ep)


_TET_PAGE_DOC = (
    "<TET><Pages>{open}<Content><Word><Text>w</Text>"
    '<Box llx="1" lly="2" urx="3" ury="4"/><Glyph font="F0" size="9.0">w</Glyph>'
    "</Word></Content>{close}</Pages></TET>"
)
_PDM_PAGE_DOC = (
    '<pages>{open}<textline><text font="F0" bbox="1,2,3,4" size="9.0">w</text>'
    "</textline>{close}</pages>"
)


_PAGE_PARSERS = {
    "tetml": (_TET_PAGE_DOC, _tet_cuts, fastparse.parse_tetml_fast, _parse_tetml_et),
    "pdfminer": (_PDM_PAGE_DOC, _pdm_cuts, fastparse.parse_pdfminer_fast, _parse_pdfminer_et),
}


@pytest.mark.parametrize(
    "dialect, open_tag, close_tag",
    [
        pytest.param("tetml", '<Page width="600" height="800">', "</Page>", id="tet-no-number"),
        pytest.param("tetml", '<Page number="2" height="800">', "</Page>", id="tet-no-width"),
        pytest.param("tetml", '<Page number="2" width="600">', "</Page>", id="tet-no-height"),
        pytest.param("tetml", '<Page number="two" width="600" height="800">', "</Page>", id="tet-bad-number"),
        pytest.param("tetml", '<Page number="2" width="wide" height="800">', "</Page>", id="tet-bad-width"),
        pytest.param("tetml", '<Page number="2" width="600" height="">', "</Page>", id="tet-empty-height"),
        pytest.param("tetml", '<Page number="2" width="600" height="800">', "</Page >", id="tet-close-space"),
        pytest.param("tetml", '<Page number="2" width="600" height="800">', "</Page\n>", id="tet-close-newline"),
        pytest.param("pdfminer", '<page bbox="0,0,600,800">', "</page>", id="pdm-no-id"),
        pytest.param("pdfminer", '<page id="3">', "</page>", id="pdm-no-bbox"),
        pytest.param("pdfminer", '<page id="three" bbox="0,0,600,800">', "</page>", id="pdm-bad-id"),
        pytest.param("pdfminer", '<page id="3" bbox="0,0,wide,800">', "</page>", id="pdm-bad-bbox"),
        pytest.param("pdfminer", '<page id="3" bbox="0,0,600">', "</page>", id="pdm-bbox-3-fields"),
        pytest.param("pdfminer", '<page id="3" bbox="0,0,600,800">', "</page >", id="pdm-close-space"),
        # a value that reads '/>' (a raw '>' would make the doc
        # ineligible for the fast path: its '<'/'>' counts differ)
        pytest.param(
            "tetml", '<Page number="2" width="600" height="800" a="/&gt;">', "</Page>", id="tet-attr-slash-gt"
        ),
        pytest.param("pdfminer", '<page id="3" bbox="0,0,600,800" a=\'x/&gt;\'>', "</page>", id="pdm-attr-slash-gt"),
    ],
)
def test_page_rule_parity(dialect, open_tag, close_tag):
    # one page rule per dialect: the fast path never falls back on a
    # page's attribute values or a close tag with whitespace, and gives
    # the ET walk's pages, or its exception with the same message
    doc, cuts_of, fast, et = _PAGE_PARSERS[dialect]
    xml = doc.format(open=open_tag, close=close_tag)
    cuts = cuts_of(xml)
    assert _outcome(fast, xml, cuts, PageTokens) != (None, None)
    _assert_consistent(xml, cuts, fast, et)


def test_word_close_tag_with_whitespace_parity():
    # '</Word >' closes the word: a Text after it is not the word's
    xml = (
        '<TET><Page number="1"><Content><Word><Text>a</Text>'
        '<Box llx="1" lly="1" urx="2" ury="2"/></Word ><Text>b</Text>'
        "</Content></Page></TET>"
    )
    _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))
    assert _parse_tetml_et(xml)[0].texts == ["a"]


def test_pdfminer_content_error_is_the_first_in_document_order():
    # the fast scan converts sizes before boxes; the kernel reports the
    # bad bbox value of the first glyph, as the ET walk and the oracle do
    from freki_spark import kernel as K, oracle as O

    xml = (
        '<pages><page id="1"><textline>'
        '<text font="F" bbox="1,x,3,4" size="9">a</text>'
        '<text font="F" bbox="1,2,3,4" size="zz">b</text>'
        "</textline></page></pages>"
    )
    spans = [{"kind": "pdfminer-xml", "offset": 0, "media_ref": "", "text": xml}]
    _, err = K.extract_document_rows("x", spans)
    assert err == "xml-content-error: could not convert string to float: 'x'"
    assert err == O.extract_document("x", spans)[1]


# ---------------------------------------------------------------------------
# review-found divergences (regression pins)
# ---------------------------------------------------------------------------


def test_leading_pi_with_markup_content_falls_back():
    # ET ignores PIs entirely; a flat scan would read the PI's content
    # as markup — only a true '<?xml ' declaration is eligible at pos 0
    xml = (
        '<?p <Page number="9"><Word><Text>PHANTOM</Text>'
        '<Box llx="1" lly="1" urx="2" ury="2"/></Word></Page> ?>'
        '<TET><Page number="1"><Word><Text>real</Text>'
        '<Box llx="1" lly="1" urx="2" ury="2"/></Word></Page></TET>'
    )
    assert fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens) is None
    assert [p.texts for p in _parse_tetml_et(xml)] == [["real"]]
    decl = '<?xml version="1.0"?><TET><Page number="1"/></TET>'
    assert fastparse.parse_tetml_fast(decl, _tet_cuts(decl), PageTokens) is not None


def test_selfclosing_text_resets_word_text():
    # ET's direct-children walk is last-wins `text = ch.text`: a
    # trailing <Text/> resets to None and the word is dropped
    for frag in (
        '<Text>abc</Text><Box llx="1" lly="1" urx="3" ury="4"/><Text/>',
        '<Text>abc</Text><Box llx="1" lly="1" urx="3" ury="4"/><Text />',
    ):
        xml = f'<TET><Page number="1"><Word>{frag}</Word></Page></TET>'
        _same(fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens), _parse_tetml_et(xml))
        assert _parse_tetml_et(xml)[0].texts == []


def test_exotic_attr_name_parses_exactly():
    # U+00B7 is a valid XML NameChar outside \w; a findall attr scan
    # skipped the real attribute and matched urx="99" inside its value
    xml = (
        '<TET><Page number="1"><Word><Text>w</Text>'
        '<Box lly="1" llx="1" urx="3" ury="4" a·=\'urx="99"\'/>'
        "</Word></Page></TET>"
    )
    fast = fastparse.parse_tetml_fast(xml, _tet_cuts(xml), PageTokens)
    et = _parse_tetml_et(xml)
    if fast is not None:
        _same(fast, et)
    assert et[0].box.tolist() == [[1.0, 1.0, 3.0, 4.0]]
    # residue the sequential scan can't account for -> None (fallback)
    assert fastparse._attrs("a=b") is None
    assert fastparse._attrs('name="v" junk') is None
    assert fastparse._attrs('x="1" /') == {"x": "1"}


def test_malformed_bbox_arity_quarantines_not_crashes():
    from freki_spark import kernel as K, oracle as O

    for kind, text in (
        (
            "pdfminer-xml",
            '<pages><page id="1" bbox="0,0"><textline>'
            '<text font="F" bbox="1,1,2,2" size="9">a</text>'
            "</textline></page></pages>",
        ),
        (
            "pdfminer-xml",
            '<pages><page id="1" bbox="0,0,612,792"><textline>'
            '<text font="F" bbox="1,1" size="9">a</text>'
            "</textline></page></pages>",
        ),
        (
            # five fields then three: twice four in all, but no glyph
            # has four (the fast scan once joined them into one box)
            "pdfminer-xml",
            '<pages><page id="1" bbox="0,0,612,792"><textline>'
            '<text font="F" bbox="1,2,3,4,5" size="9">a</text>'
            '<text font="F" bbox="6,7,8" size="9">b</text>'
            "</textline></page></pages>",
        ),
        *(
            # the ET walk converts every field, as the oracle does
            (
                "pdfminer-xml",
                '<pages><page id="1" bbox="0,0,612,792"><textline>'
                f'<text font="F" bbox="{bbox}" size="9">a</text>'
                "</textline></page></pages>",
            )
            for bbox in ("1,2,3,4,x", "1,2,3,4,", "1,2,3")
        ),
    ):
        spans = [{"kind": kind, "offset": 0, "media_ref": "", "text": text}]
        rows, err = K.extract_document_rows("x", spans)
        assert rows == [] and err is not None and "error" in err
        o_rows, o_err = O.extract_document("x", spans)
        assert o_rows == [] and o_err == err


def test_page_cuts_read_quoted_gt_and_every_close_form():
    # one cut per page start match, in the raw text's coordinates: a
    # '>' or '/>' inside a quoted value neither ends the open tag nor
    # makes it self-closing; an end is the first close tag before the
    # next page start (any prefix, whitespace before '>'), else the
    # end of a self-closing open tag, else None (nested pages)
    xml = (
        '<R><P:page id="1" a="x/>"/>\r\n<page id=\'2\' b=\'>\'>b\r\nody</page\r\n>'
        '<page id="3" c="/>"><page id="4"/></page></R>'
    )
    starts = [m.start() for m in spec.PAGE_START_RE[spec.KIND_PDFMINER].finditer(xml)]
    ends = [xml.index("\r\n"), xml.index("<page id=\"3\""), None, len(xml) - len("</R>")]
    assert _pdm_cuts(xml) == [
        (starts[0], ' id="1" a="x/>"/', "", ends[0]),
        (starts[1], " id='2' b='>'", "b\r\nody", ends[1]),
        (starts[2], ' id="3" c="/>"', None, None),
        (starts[3], ' id="4"/', "", ends[3]),
    ]
