"""Property-based tests (hypothesis) for the numpy layout kernels —
invariants that must hold for ANY geometrically valid token set, not
just the fixture matrix.  Pure numpy, no Spark session.

S2 cluster_lines: partition property (every token in exactly one
line), within-line x-order, top-to-bottom line order.
S3 render_spacing: all token texts present, in order, separated only
by spaces; single-token line renders verbatim.
S5 segment_blocks (via layout_page): blocks cover all lines with
contiguous 1-based line ranges.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from freki_spark.grammar import font_key
from freki_spark.kernel import PageTokens, cluster_lines, render_spacing

coord = st.floats(min_value=0.0, max_value=600.0, allow_nan=False, width=32)


@st.composite
def pages(draw, min_tokens=1, max_tokens=40):
    n = draw(st.integers(min_tokens, max_tokens))
    page = PageTokens(1, 612.0, 792.0)
    for i in range(n):
        llx = draw(coord)
        lly = draw(coord)
        w = draw(st.floats(min_value=0.5, max_value=80.0, allow_nan=False, width=32))
        h = draw(st.floats(min_value=0.5, max_value=30.0, allow_nan=False, width=32))
        text = draw(st.text(alphabet="abcXYZ09", min_size=1, max_size=8))
        page.add(text, llx, lly, llx + w, lly + h, font_key("Times", 10.0))
    page.freeze()
    return page


@settings(max_examples=60, deadline=None)
@given(pages())
def test_cluster_lines_partitions_tokens(page):
    lines = cluster_lines(page)
    seen = np.concatenate(lines) if lines else np.array([], dtype=np.int64)
    # every token appears in exactly one line
    assert sorted(seen.tolist()) == list(range(len(page.texts)))


@settings(max_examples=60, deadline=None)
@given(pages())
def test_cluster_lines_ordering(page):
    lines = cluster_lines(page)
    box = page.box
    for idx in lines:
        llx = box[idx, 0]
        assert (np.diff(llx) >= 0).all()  # left-to-right within a line
    mean_ury = [float(np.mean(box[idx, 3])) for idx in lines]
    assert all(a >= b for a, b in zip(mean_ury, mean_ury[1:]))  # top→bottom


@settings(max_examples=60, deadline=None)
@given(pages())
def test_render_spacing_preserves_texts(page):
    for idx in cluster_lines(page):
        rendered = render_spacing(page, idx)
        texts = [page.texts[i] for i in idx]
        # all token texts appear in order; removing them leaves only spaces
        pos = 0
        rest = rendered
        for t in texts:
            j = rest.find(t)
            assert j >= 0, (rendered, texts)
            assert set(rest[:j]) <= {" "}, (rendered, texts)
            rest = rest[j + len(t):]
        assert set(rest) <= {" "}
        if len(idx) == 1:
            assert rendered == texts[0]


@settings(max_examples=40, deadline=None)
@given(pages(min_tokens=2, max_tokens=30))
def test_layout_page_block_ranges_cover_lines(page):
    from freki_spark.kernel import finalize_records, layout_page

    records: list = []
    layout_page(page, records)
    # each block record is followed by exactly its n_lines line records,
    # and every record belongs to one block
    i = 0
    while i < len(records):
        block = records[i]
        assert block["kind"] == "block" and block["n_lines"] >= 1
        lines = records[i + 1 : i + 1 + block["n_lines"]]
        assert len(lines) == block["n_lines"]
        assert all(r["kind"] == "line" for r in lines)
        i += 1 + block["n_lines"]
    assert i == len(records)
    # so the rendered block line ranges are disjoint, contiguous, and
    # cover 1..n_lines
    spans = finalize_records("d", records)
    n_lines = sum(s["kind"] == "line" for s in spans)
    ranges = sorted(tuple(map(int, s["text"].split()[-2:])) for s in spans if s["kind"] == "block")
    covered = []
    for a, b in ranges:
        assert a <= b
        covered.extend(range(a, b + 1))
    assert covered == list(range(1, n_lines + 1))


# ---------------------------------------------------------------------------
# full-document two-implementation parity on RANDOM geometry: render
# hypothesis-drawn tokens as real dialect XML and require the Spark
# kernel and the independent oracle to agree span-for-span.  This is
# the safety net for any kernel/layout/parser rewrite — it covers
# arbitrary geometry, not just the fixture matrix.
# ---------------------------------------------------------------------------

from freki_spark import oracle as _oracle
from freki_spark.kernel import extract_document_rows as _kernel_extract

_FONTS = [("F0", 12.0), ("F1", 9.0), ("F2", 10.5)]


@st.composite
def geom_words(draw, max_words=30):
    n = draw(st.integers(1, max_words))
    words = []
    for _ in range(n):
        llx = round(draw(st.floats(0.0, 560.0, allow_nan=False, width=32)), 2)
        lly = round(draw(st.floats(0.0, 760.0, allow_nan=False, width=32)), 2)
        w = round(draw(st.floats(0.5, 50.0, allow_nan=False, width=32)), 2)
        h = round(draw(st.floats(0.5, 20.0, allow_nan=False, width=32)), 2)
        text = draw(st.text(alphabet="abcXYZ09", min_size=1, max_size=6))
        font, size = _FONTS[draw(st.integers(0, 2))]
        words.append((text, llx, lly, llx + w, lly + h, font, size))
    return words


def _tetml_of(words):
    parts = ['<TET><Pages><Page number="1" width="612.00" height="792.00"><Content>']
    for t, x0, y0, x1, y1, f, s in words:
        parts.append(
            f"<Word><Text>{t}</Text>"
            f'<Box llx="{x0:.2f}" lly="{y0:.2f}" urx="{x1:.2f}" ury="{y1:.2f}"/>'
            f'<Glyph font="{f}" size="{s:.1f}">{t[0]}</Glyph></Word>'
        )
    parts.append("</Content></Page></Pages></TET>")
    return "".join(parts)


def _pdfminer_of(words):
    parts = ['<pages><page id="1" bbox="0.000,0.000,612.000,792.000"><textbox>']
    # one textline per word keeps the generator simple; word merging is
    # exercised separately by the fixture corpus
    for t, x0, y0, x1, y1, f, s in words:
        step = (x1 - x0) / len(t)
        parts.append(f'<textline bbox="{x0:.3f},{y0:.3f},{x1:.3f},{y1:.3f}">')
        for i, ch in enumerate(t):
            parts.append(
                f'<text font="{f}" bbox="{x0 + i * step:.3f},{y0:.3f},'
                f'{x0 + (i + 1) * step:.3f},{y1:.3f}" size="{s:.1f}">{ch}</text>'
            )
        parts.append("<text> </text></textline>")
    parts.append("</textbox></page></pages>")
    return "".join(parts)


def _assert_doc_parity(xml, dialect):
    spans = [{"kind": dialect, "text": xml, "media_ref": "", "offset": 0}]
    k_rows, k_err = _kernel_extract("hx-doc", spans)
    o_rows, o_err = _oracle.extract_document("hx-doc", spans)
    assert (k_err is None) == (o_err is None)
    assert k_rows == o_rows


@settings(max_examples=50, deadline=None)
@given(geom_words())
def test_full_doc_parity_random_geometry_tetml(words):
    _assert_doc_parity(_tetml_of(words), "tetml")


@settings(max_examples=50, deadline=None)
@given(geom_words())
def test_full_doc_parity_random_geometry_pdfminer(words):
    _assert_doc_parity(_pdfminer_of(words), "pdfminer-xml")


@st.composite
def chunked_media_spans(draw):
    """Random-geometry TETML doc, cut at random char positions into
    ordered chunk spans with media spans at random slots — fuzzes the
    reassemble (P3) + media-anchor (S6) path."""
    words = draw(geom_words(max_words=12))
    xml = _tetml_of(words)
    n_cuts = draw(st.integers(0, 6))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(1, len(xml) - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
    )
    bounds = [0, *cuts, len(xml)]
    chunks = [xml[a:b] for a, b in zip(bounds, bounds[1:])]
    slots = draw(st.lists(st.integers(0, len(chunks)), max_size=3))
    spans = []
    mi = 0
    for ci, ch in enumerate(chunks):
        for s in slots:
            if s == ci:
                spans.append(
                    {
                        "kind": "media",
                        "text": "",
                        "media_ref": f"img://hx/{mi}",
                        "offset": len(spans),
                    }
                )
                mi += 1
        spans.append(
            {"kind": "tetml", "text": ch, "media_ref": "", "offset": len(spans)}
        )
    for s in slots:
        if s == len(chunks):
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": f"img://hx/{mi}",
                    "offset": len(spans),
                }
            )
            mi += 1
    return spans


@settings(max_examples=50, deadline=None)
@given(chunked_media_spans())
def test_chunked_media_parity_random(spans):
    k_rows, k_err = _kernel_extract("hx-doc", spans)
    o_rows, o_err = _oracle.extract_document("hx-doc", spans)
    assert (k_err is None) == (o_err is None)
    assert k_rows == o_rows


def _tetml_pages(pages_words):
    parts = ["<TET><Pages>"]
    for pno, words in enumerate(pages_words, start=1):
        parts.append(
            f'<Page number="{pno}" width="612.00" height="792.00"><Content>'
        )
        for t, x0, y0, x1, y1, f, s in words:
            parts.append(
                f"<Word><Text>{t}</Text>"
                f'<Box llx="{x0:.2f}" lly="{y0:.2f}" urx="{x1:.2f}" ury="{y1:.2f}"/>'
                f'<Glyph font="{f}" size="{s:.1f}">{t[0]}</Glyph></Word>'
            )
        parts.append("</Content></Page>")
    parts.append("</Pages></TET>")
    return "".join(parts)


@settings(max_examples=30, deadline=None)
@given(
    w1=geom_words(max_words=8),
    w2=geom_words(max_words=8),
    w3=geom_words(max_words=4),
)
def test_full_doc_parity_multipage_tetml(w1, w2, w3):
    # multi-page: global line numbering, per-page block ids, font ids
    # spanning pages — all must agree between kernel and oracle
    _assert_doc_parity(_tetml_pages([w1, w2, w3]), "tetml")
