"""End-to-end Spark pipeline tests: distributed output must equal the
single-node oracle goldens span-for-span — the unsalted (mapInArrow)
and salted (S7) paths both converge to identical bytes (BASELINE.json
equality invariant)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from freki_spark import fixtures, spec
from freki_spark.io import docs_to_df
from freki_spark.pipeline import extract, extract_salted, extract_simple, split_quarantine
from sql_plans import node_names_run_by

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "fixture_goldens.json")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def matrix_df(spark):
    return docs_to_df(spark, fixtures.fixture_matrix()).cache()


def _collect_spans(df):
    out = {}
    for row in df.collect():
        out[row.doc_id] = {
            "error": row.error,
            "spans": [[s.kind, s.text, s.media_ref, s.offset] for s in (row.spans or [])],
        }
    return out


def _assert_matches_golden(got, golden):
    assert set(got) == set(golden)
    for doc_id, g in golden.items():
        r = got[doc_id]
        assert (r["error"] is None) == (g["error"] is None), (doc_id, r["error"])
        assert r["spans"] == g["spans"], doc_id


def test_extract_unsalted_matches_goldens(spark, matrix_df, golden):
    got = _collect_spans(extract(matrix_df))
    _assert_matches_golden(got, golden)


def test_extract_salted_matches_goldens(spark, matrix_df, golden):
    # force (nearly) every doc down the salted page-parallel path;
    # output must be byte-identical to the unsalted/golden spans (S7)
    got = _collect_spans(extract(matrix_df, salt_threshold=1))
    _assert_matches_golden(got, golden)


def test_quarantine_split(spark, matrix_df):
    good, bad = split_quarantine(extract(matrix_df))
    bad_rows = bad.collect()  # one job; a second collect would re-extract
    bad_ids = {r.doc_id for r in bad_rows}
    assert bad_ids == {f"fx-corrupt-{i:02d}" for i in range(4)}
    assert good.filter(good.doc_id.isin(list(bad_ids))).count() == 0
    assert all("error" in r.error for r in bad_rows)


def test_salted_quarantine(spark, golden):
    # corrupt mega-doc: route a corrupt doc down the salted path
    docs = [fixtures.make_doc("fx-corrupt-00", 42, "corrupt")]
    df = docs_to_df(spark, docs)
    res = extract(df, salt_threshold=1).collect()
    assert len(res) == 1
    assert res[0].error is not None
    assert res[0].spans == []


def test_output_schema_stable(spark, matrix_df):
    out = extract(matrix_df)
    assert (
        out.schema.simpleString()
        == "struct<doc_id:string,spans:array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>,error:string>"
    )


def test_freki_read_roundtrip(spark, matrix_df, golden):
    """Reader (FrekiDoc.read parity): structured re-parse of rendered
    spans must recover the block/line grammar fields consistently."""
    from pyspark.sql import functions as F

    from freki_spark.reader import blocks, lines, read_freki_docs

    good, _ = split_quarantine(extract(matrix_df))
    parsed = read_freki_docs(good).cache()

    b = blocks(parsed)
    l = lines(parsed)
    n_blocks = b.count()
    n_lines = l.count()
    assert n_blocks > 0 and n_lines > 0

    # every block parsed all numeric fields (no NULL from a regex miss)
    assert (
        b.filter(
            F.col("page").isNull()
            | F.col("block_k").isNull()
            | F.col("llx").isNull()
            | F.col("start_line").isNull()
        ).count()
        == 0
    )
    # bbox is a real box
    assert b.filter((F.col("urx") < F.col("llx")) | (F.col("ury") < F.col("lly"))).count() == 0

    # per doc: the union of block [start_line, end_line] ranges covers
    # exactly the set of parsed line numbers (1..n_lines, reading order)
    rng = b.groupBy("doc_id").agg(
        F.min("start_line").alias("lo"),
        F.max("end_line").alias("hi"),
        F.sum(F.col("end_line") - F.col("start_line") + 1).alias("covered"),
    )
    ln = l.groupBy("doc_id").agg(
        F.min("line_no").alias("l_lo"),
        F.max("line_no").alias("l_hi"),
        F.count("*").alias("n"),
    )
    j = rng.join(ln, "doc_id")
    bad = j.filter(
        (F.col("lo") != F.col("l_lo"))
        | (F.col("hi") != F.col("l_hi"))
        | (F.col("covered") != F.col("n"))
    )
    assert bad.count() == 0, bad.collect()

    # line bodies never retain the metadata prefix
    assert l.filter(F.col("body").rlike(r"^line=\d+ fonts=")).count() == 0


def test_risky_docs_route_unsalted(spark):
    """Docs with comments/PIs containing phantom page-start tags must be
    routed to the unsalted (whole-parse) path even above the salt
    threshold — a regex page split cannot see markup context."""
    from freki_spark import kernel, spec

    base = fixtures.make_doc("fx-edge-risky", 7, "single_col")
    dialect = next(s["kind"] for s in base["spans"] if s["kind"] in spec.XML_KINDS)
    xml = "".join(s["text"] for s in base["spans"] if s["kind"] in spec.XML_KINDS)
    i = xml.index(">", xml.index("<", 1 if xml.startswith("<?") else 0)) + 1
    evil = '<!-- <Page number="99"> <page id="p9"> --><?pi <Page number="98"> ?>'
    xml2 = xml[:i] + evil + xml[i:]
    # the splice really does create a phantom split site (the hazard)
    assert len(kernel.page_pieces(dialect, xml2)[0]) > len(
        kernel.page_pieces(dialect, xml)[0]
    )
    # chunk it so size(spans) > 1 and run with salt_threshold=1
    step = max(1, len(xml2) // 7)
    spans = [
        {"kind": dialect, "text": xml2[j : j + step], "media_ref": "", "offset": k}
        for k, j in enumerate(range(0, len(xml2), step))
    ]
    df = docs_to_df(spark, [{"doc_id": "fx-edge-risky", "spans": spans}])
    want, werr = kernel.extract_document_rows("fx-edge-risky", spans)
    assert werr is None and want
    got = extract(df, salt_threshold=1).collect()
    assert len(got) == 1 and got[0].error is None
    assert [[s.kind, s.text, s.media_ref, s.offset] for s in got[0].spans] == [
        [r["kind"], r["text"], r["media_ref"], r["offset"]] for r in want
    ]


def test_leading_pi_is_risky_but_xml_decl_is_not(spark):
    """A document-leading PI ('<?pi ... ?>') must flag risky; a true XML
    declaration must NOT (else every doc routes unsalted)."""
    from freki_spark import spec
    from freki_spark.pipeline import extract_salted

    decl_doc = {
        "doc_id": "d-decl",
        "spans": [
            {
                "kind": spec.KIND_TETML,
                "text": '<?xml version="1.0"?>\n<TET></TET>',
                "media_ref": "",
                "offset": 0,
            },
            {"kind": spec.KIND_MEDIA, "text": "fig", "media_ref": "m:0", "offset": 1},
        ],
    }
    pi_doc = {
        "doc_id": "d-pi",
        "spans": [
            {
                "kind": spec.KIND_TETML,
                "text": '<?pi <Page number="9"> ?><TET></TET>',
                "media_ref": "",
                "offset": 0,
            },
            {"kind": spec.KIND_MEDIA, "text": "fig", "media_ref": "m:0", "offset": 1},
        ],
    }
    df = docs_to_df(spark, [decl_doc, pi_doc])
    # with threshold 0 every non-risky doc goes salted; both docs must
    # still produce their media span with no error on either path
    for thr in (0, 10_000):
        got = {r.doc_id: r for r in extract(df, salt_threshold=thr).collect()}
        assert set(got) == {"d-decl", "d-pi"}
        for r in got.values():
            assert r.error is None, (r.doc_id, r.error)
            assert [[s.kind, s.media_ref, s.offset] for s in r.spans] == [
                ["media", "m:0", 0]
            ]
    # and the decl doc really exercises the salted plan (not re-routed):
    # running it through extract_salted directly gives the same answer
    got_s = extract_salted(docs_to_df(spark, [decl_doc])).collect()
    assert len(got_s) == 1 and got_s[0].error is None
    assert [[s.kind, s.media_ref, s.offset] for s in got_s[0].spans] == [
        ["media", "m:0", 0]
    ]


def test_null_and_empty_spans_surface(spark):
    """NULL or empty spans must yield (doc_id, [], null error) — never
    vanish and never quarantine."""
    from freki_spark.pipeline import DOC_SCHEMA

    df = spark.createDataFrame(
        [("d-null", None), ("d-empty", [])], DOC_SCHEMA
    )
    for thr in (1, 10_000):
        got = {r.doc_id: r for r in extract(df, salt_threshold=thr).collect()}
        assert set(got) == {"d-null", "d-empty"}
        for r in got.values():
            assert r.error is None and list(r.spans or []) == []


def test_media_only_doc_salted_parity(spark):
    """A doc with no XML chunks (media spans only) must pass through
    both paths identically, media in input-offset order."""
    doc = {
        "doc_id": "d-media",
        "spans": [
            {"kind": "media", "text": f"fig{i}", "media_ref": f"m:{i}", "offset": i}
            for i in range(3)
        ],
    }
    df = docs_to_df(spark, [doc])
    for thr in (1, 10_000):
        got = extract(df, salt_threshold=thr).collect()
        assert len(got) == 1 and got[0].error is None
        assert [[s.kind, s.text, s.media_ref, s.offset] for s in got[0].spans] == [
            ["media", f"fig{i}", f"m:{i}", i] for i in range(3)
        ]


def test_salted_quarantine_error_text_parity(spark):
    """The salted path must quarantine with the SAME error text as the
    unsalted path: both report the whole-document parse error of a
    truncated doc, and the content error of a mega doc (pdfminer, 12
    pages) whose page 7 bbox is not a number, as the oracle does."""
    from freki_spark import oracle

    bad = fixtures.make_doc("fx-mega-01", 42, "mega")
    page7 = '<page id="7" bbox="0.000,0.000,612.000,792.000"'
    assert sum(s["text"].count(page7) for s in bad["spans"]) == 1
    for s in bad["spans"]:
        s["text"] = s["text"].replace(page7, '<page id="7" bbox="0,0,x,792"')
    content_error = ([], "xml-content-error: could not convert string to float: 'x'")
    assert oracle.extract_document(bad["doc_id"], bad["spans"]) == content_error

    docs = [fixtures.make_doc("fx-corrupt-00", 42, "corrupt"), bad]
    df = docs_to_df(spark, docs)
    unsalted = {r.doc_id: r for r in extract(df, salt_threshold=10_000).collect()}
    salted = {r.doc_id: r for r in extract(df, salt_threshold=1).collect()}
    # τ = 1 salts fx-mega-01 (its joined XML holds no markup); calling
    # S7 directly checks its error text whatever the router decides
    s7 = {r.doc_id: r for r in extract_salted(df).collect()}
    assert unsalted["fx-corrupt-00"].error is not None
    for got in (unsalted, salted, s7):
        assert got["fx-corrupt-00"].error == unsalted["fx-corrupt-00"].error
        assert (list(got["fx-mega-01"].spans), got["fx-mega-01"].error) == content_error


def _null_field_doc(field: str) -> dict:
    """A media fixture doc with one null where the pipeline orders or
    joins: a chunk's offset, a chunk's text, or a whole span."""
    from freki_spark import spec

    doc = fixtures.make_doc(f"nf-{field}", 42, "media")
    spans = doc["spans"]
    assert any(s["kind"] == spec.KIND_MEDIA for s in spans)
    # a chunk after the first; the doc's joined XML holds no markup, so
    # τ = 1 salts it
    i = next(i for i, s in enumerate(spans) if i and s["kind"] in spec.XML_KINDS)
    if field == "span":
        spans.insert(i, None)
    else:
        spans[i][field] = None
    return doc


@pytest.mark.parametrize("field", ["offset", "text", "span"])
def test_null_span_field_quarantines_the_doc(spark, tmp_path, field):
    """A null offset, chunk text or span quarantines its doc as
    'span-null-field: <field>' on every path, and the rest of the batch
    is extracted: it used to raise in the oracle and abort the batch."""
    from freki_spark import oracle
    from freki_spark.checkpoint import run_extraction

    bad = _null_field_doc(field)
    want_bad = ([], f"span-null-field: {field}")
    assert oracle.extract_document(bad["doc_id"], bad["spans"]) == want_bad
    good = [fixtures.make_doc(f"nf-{p}", 42, p) for p in ("single_col", "media", "two_col")]
    want = {d["doc_id"]: oracle.extract_document(d["doc_id"], d["spans"]) for d in good}
    df = docs_to_df(spark, [*good, bad])
    for got in (
        extract(df, salt_threshold=1),
        extract(df, salt_threshold=10_000),
        extract_salted(df),
    ):
        rows = {
            r.doc_id: ([[s.kind, s.text, s.media_ref, s.offset] for s in r.spans], r.error)
            for r in got.collect()
        }
        assert rows.pop(bad["doc_id"]) == want_bad
        assert rows == {
            d: ([[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in spans], e)
            for d, (spans, e) in want.items()
        }
    s = run_extraction(spark, df, str(tmp_path / "out"), n_batches=1, salt_threshold=1)
    assert (s["n_docs"], s["n_errors"]) == (len(good), 1)


def _tied_media_doc(dialect: str, media_first: bool) -> dict:
    """A fixture doc plus one media span that shares its offset with a
    chunk in the middle of the doc, listed before or after that chunk."""
    if dialect == "xml":
        doc = fixtures.make_doc("tie", 42, "mega")
    else:
        doc = fixtures.make_html_doc("tie-html", 42, "random_html")
    spans = doc["spans"]
    i = next(i for i, s in enumerate(spans) if s["offset"] == (5 if dialect == "xml" else 2))
    assert spans[i]["kind"] != "media"
    fig = {"kind": "media", "text": "fig", "media_ref": "m:tie", "offset": spans[i]["offset"]}
    spans.insert(i if media_first else i + 1, fig)
    return doc


@pytest.mark.parametrize("media_first", [True, False], ids=["media-listed-first", "chunk-listed-first"])
@pytest.mark.parametrize("dialect", ["xml", "html"])
def test_media_tied_with_a_chunk_goes_after_it(spark, dialect, media_first):
    """A media span whose offset equals a chunk's goes after that chunk's
    text, whichever of the two the input lists first: the oracle's tie
    rule, on the kernel and on both paths.  The XML kernel used to put
    it before the chunk's text."""
    from freki_spark import kernel, oracle

    doc = _tied_media_doc(dialect, media_first)
    want, err = oracle.extract_document(doc["doc_id"], doc["spans"])
    assert err is None
    assert kernel.extract_document_rows(doc["doc_id"], doc["spans"]) == (want, None)
    df = docs_to_df(spark, [doc])
    paths = [extract(df, salt_threshold=1), extract(df, salt_threshold=10_000)]
    if dialect == "xml":  # HTML docs never take the salted path
        paths.append(extract_salted(df))
    for got in paths:
        [r] = got.collect()
        assert r.error is None
        assert [[s.kind, s.text, s.media_ref, s.offset] for s in r.spans] == [
            [s["kind"], s["text"], s["media_ref"], s["offset"]] for s in want
        ]


def test_extract_fast_path_is_narrow(spark, matrix_df):
    """The 100 TB invariant: the unsalted extraction path must contain
    no Exchange — document bytes never shuffle."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract_simple(matrix_df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan


def test_extract_without_mega_doc_plans_no_salted_path(spark, matrix_df):
    """At the production threshold no fixture doc is salted, so the
    call and its output plan no S7 stage and no shuffle."""
    ran = node_names_run_by(spark, lambda: extract(matrix_df).collect())
    assert "MapInArrow" in ran
    assert not ran & {"MapInPandas", "FlatMapGroupsInPandas", "Exchange"}, ran


def test_extract_with_mega_doc_plans_salted_path(spark, matrix_df, golden):
    """The salted golden test really runs S7: at threshold 1 stage 2's
    grouped map is planned.  So it is for a doc whose chunks end in '<'
    but whose joined XML holds no markup: the router reads the joined
    text, so where the chunks are cut does not keep a doc off S7."""
    ran = node_names_run_by(spark, lambda: extract(matrix_df, salt_threshold=1).collect())
    assert "FlatMapGroupsInPandas" in ran
    # stage 3 renders each doc in one grouped map: no join of records
    # with per-doc metadata
    joins = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastExchange"}
    assert not ran & joins, ran

    mega = matrix_df.filter(F.col("doc_id") == "fx-mega-01")
    assert any(s.text.endswith("<") for s in mega.first().spans)
    got = {}
    ran = node_names_run_by(
        spark, lambda: got.update(_collect_spans(extract(mega, salt_threshold=1)))
    )
    assert "FlatMapGroupsInPandas" in ran
    _assert_matches_golden(got, {"fx-mega-01": golden["fx-mega-01"]})


def _risky_reference(spans) -> bool:
    """The risky-markup rule in Python over the kernel's own join: the
    XML chunks in offset order (a stable sort; null offsets first, as
    Spark sorts them, though the kernel quarantines such docs), joined,
    hold a ``<!`` or a ``<?`` other than a position-0 XML declaration."""
    chunks = [s for s in spans or [] if s is not None and s["kind"] in spec.XML_KINDS]
    chunks.sort(key=lambda s: (s["offset"] is not None, s["offset"] or 0))
    xml = "".join(s["text"] or "" for s in chunks)
    decl = xml.startswith(("<?xml ", "<?xml\t", "<?xml\r", "<?xml\n"))
    return "<!" in xml or xml.find("<?", 1 if decl else 0) >= 0


def test_risky_markup_matches_reference_form(spark):
    """The router flags exactly the docs whose joined XML text holds
    markup, as a Python reference over the kernel's join finds: the
    fixture matrix plus hand-made edge docs."""
    from freki_spark.pipeline import DOC_SCHEMA, _risky_markup

    decl = '<?xml version="1.0"?>\n'

    def doc(want, doc_id, *chunks, kind="tetml"):
        spans = [
            {"kind": kind, "text": t, "media_ref": "", "offset": o} for t, o in chunks
        ]
        return want, (doc_id, spans)

    media = {"kind": "media", "text": "fig", "media_ref": "m:0", "offset": 0}
    want, edges = zip(
        doc(False, "decl-head", (decl + "<TET>", 0), ("<Page/></TET>", 1)),
        doc(False, "decl-head-cr", ('<?xml\rversion="1.0"?><TET>', 0), ("</TET>", 1)),
        doc(False, "decl-head-unsorted", ("<Page/></TET>", 3), (decl + "<TET>", 1)),
        doc(True, "decl-head-twice", (decl + "<TET>", 0), (decl + "</TET>", 0)),
        doc(True, "decl-head-then-pi", (decl + "<?pi x?><TET>", 0), ("</TET>", 1)),
        doc(True, "decl-late", ("<TET>", 0), (decl + "</TET>", 1)),
        doc(True, "decl-late-listed-first", (decl + "</TET>", 5), ("<TET>", 2)),
        doc(False, "decl-null-offset", ("<TET>", 0), (decl + "</TET>", None)),
        doc(True, "stylesheet-pi", ('<?xml-stylesheet href="a"?><TET>', 0), ("</TET>", 1)),
        doc(True, "leading-pi", ('<?pi <Page number="9"> ?><TET>', 0), ("</TET>", 1)),
        doc(False, "ends-in-lt", ("<TET><", 0), ("Page/></TET>", 1)),
        doc(False, "mid-lt", ("<TET>", 0), ("<Page/><", 1), ("Page/></TET>", 2)),
        doc(True, "split-bang", ("<TET><Page/><", 0), ("!-- <Page/> --></TET>", 1)),
        doc(True, "comment", ("<TET><!-- c -->", 0), ("</TET>", 1)),
        doc(False, "null-text", (None, 0), ("<TET></TET>", 1)),
        doc(False, "html-only", ("<!DOCTYPE html><p>x</p>", 0), kind="html"),
        (False, ("media-only", [media])),
        (False, ("empty", [])),
        (False, ("null", None)),
    )
    matrix = [(d["doc_id"], d["spans"]) for d in fixtures.fixture_matrix()]
    df = spark.createDataFrame([*matrix, *edges], DOC_SCHEMA)
    got = {
        r.doc_id: (r.new, _risky_reference(r.spans))
        for r in df.select("doc_id", "spans", _risky_markup("spans").alias("new")).collect()
    }
    assert all(new == ref for new, ref in got.values()), {
        k: v for k, v in got.items() if v[0] != v[1]
    }
    assert [got[doc_id][0] for doc_id, _ in edges] == list(want)
    # matrix docs with a chunk ending in '<' (which used to be flagged)
    # hold no markup, so the comparison has teeth on the matrix too
    lt = [
        doc_id
        for doc_id, spans in matrix
        if any(s["text"].endswith("<") for s in spans if s["kind"] in spec.XML_KINDS)
    ]
    assert lt and not any(got[doc_id][0] for doc_id in lt)


def test_router_builds_the_joined_text_only_above_the_threshold(spark, monkeypatch):
    """``salted`` tests ``n > τ`` before the risky-markup rule builds a
    doc's joined XML text: the join is made to fail, and routing a doc
    below τ must not reach it.  (Written out more than once in the
    predicate, the text would be hoisted by subexpression elimination
    and built for every doc.)"""
    join = F.array_join
    monkeypatch.setattr(
        F, "array_join", lambda c, d: F.concat(join(c, d), F.raise_error("joined").cast("string"))
    )
    df = docs_to_df(spark, [fixtures.make_doc("fx-route", 42, "single_col")])
    assert extract(df, salt_threshold=10_000).count() == 1
    with pytest.raises(Exception, match="joined"):
        extract(df, salt_threshold=1)


def test_html_dialect_through_pipeline(spark):
    """kind='html' docs run the HtmlSpec extractor through the same
    pipeline surface: output == kernel rows, and routing keeps them on
    the unsalted path even when the salt threshold would trip."""
    from freki_spark import kernel

    docs = fixtures.html_fixture_matrix()[:12]
    df = docs_to_df(spark, docs)
    want = {d["doc_id"]: kernel.extract_document_rows(d["doc_id"], d["spans"]) for d in docs}
    for thr in (0, 10_000):  # thr=0: every non-html doc would salt
        got = {r.doc_id: r for r in extract(df, salt_threshold=thr).collect()}
        assert set(got) == set(want)
        for doc_id, (rows, err) in want.items():
            r = got[doc_id]
            assert r.error == err, doc_id
            assert [[s.kind, s.text, s.media_ref, s.offset] for s in r.spans] == [
                [w["kind"], w["text"], w["media_ref"], w["offset"]] for w in rows
            ], doc_id


def test_mixed_xml_html_corpus(spark):
    """One input table holding both dialects plus corrupt XML: every doc
    routes to its dialect's extractor; quarantine untouched."""
    docs = [
        fixtures.make_doc("mx-xml-0", 42, "single_col"),
        fixtures.make_html_doc("mx-html-0", 42, "article"),
        fixtures.make_doc("mx-bad-0", 42, "corrupt"),
        fixtures.make_html_doc("mx-html-1", 42, "img_media"),
        fixtures.make_doc("mx-xml-1", 42, "media"),
    ]
    from freki_spark import kernel

    df = docs_to_df(spark, docs)
    got = {r.doc_id: r for r in extract(df).collect()}
    assert set(got) == {d["doc_id"] for d in docs}
    for d in docs:
        rows, err = kernel.extract_document_rows(d["doc_id"], d["spans"])
        r = got[d["doc_id"]]
        assert r.error == err, d["doc_id"]
        assert [[s.kind, s.text, s.media_ref, s.offset] for s in r.spans] == [
            [w["kind"], w["text"], w["media_ref"], w["offset"]] for w in rows
        ], d["doc_id"]
    assert got["mx-bad-0"].error is not None


# ---------------------------------------------------------------------------
# review-found salted-path divergences (regression pins)
# ---------------------------------------------------------------------------


def test_chunk_boundary_split_comment_routes_unsalted(spark):
    """'<' ending one chunk and '!--' starting the next must still flag
    the doc risky (whole-parse path): the comment could hold '<Page'
    and create phantom piece boundaries on the salted path."""
    from freki_spark import kernel as K

    body = (
        '<TET><Page number="1"><Word><Text>alpha</Text>'
        '<Box llx="1" lly="1" urx="9" ury="9"/></Word></Page>'
        "<!-- <Page number=\"7\"> phantom --></TET>"
    )
    cut = body.index("<!--") + 1  # split right after the '<'
    spans = [
        {"kind": "tetml", "text": body[:cut], "media_ref": "", "offset": 0},
        {"kind": "tetml", "text": body[cut:], "media_ref": "", "offset": 1},
    ]
    df = docs_to_df(spark, [{"doc_id": "split-bang", "spans": spans}])
    # salt_threshold=1 would salt this doc if the risky flag missed it
    out = {r.doc_id: r for r in extract(df, salt_threshold=1).collect()}
    ref_rows, ref_err = K.extract_document_rows(
        "split-bang", [dict(s) for s in spans]
    )
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in out["split-bang"].spans]
    want = [(r["kind"], r["text"], r["media_ref"], r["offset"]) for r in ref_rows]
    assert got == want and out["split-bang"].error == ref_err


def test_salted_zero_record_doc_survives(spark, tmp_path):
    """A salted doc that yields no span record must still appear as
    (doc_id, [], null), same as unsalted, and count in the lineage:
    all-empty pages, valid XML without a page element, or only
    non-chunk, non-media spans (stage 1 splits nothing from the last
    two)."""
    from freki_spark.checkpoint import run_extraction

    def span(kind, text, offset):
        return {"kind": kind, "text": text, "media_ref": "", "offset": offset}

    docs = {
        "empty-mega": [
            span("tetml", "<TET><Page number='1'/>", 0),
            span("tetml", "<Page number='2'/></TET>", 1),
        ],
        "no-page": [span("tetml", "<TET><Doc>", 0), span("tetml", "</Doc></TET>", 1)],
        "other-kinds": [span("block", "b", 0), span("line", "l", 1)],
    }
    df = docs_to_df(spark, [{"doc_id": d, "spans": s} for d, s in docs.items()])
    for thr in (1, 100):
        got = {r.doc_id: (r.spans, r.error) for r in extract(df, salt_threshold=thr).collect()}
        assert got == {d: ([], None) for d in docs}, f"threshold {thr}: {got}"
    s = run_extraction(spark, df, str(tmp_path / "out"), n_batches=1, salt_threshold=1)
    assert (s["n_docs"], s["n_errors"]) == (len(docs), 0)


def test_layout_records_concatenate_across_any_split():
    """Layout records carry no doc position: the records of a doc's
    reading order cut at any point, concatenated, render to the narrow
    kernel's spans.  S7 stage 3 relies on it to join its shards."""
    from freki_spark import kernel

    for s in range(6):
        doc = fixtures.make_doc(f"split-{s}", s, "mega")
        want, err = kernel.extract_document_rows(doc["doc_id"], doc["spans"])
        assert err is None
        spans = sorted(doc["spans"], key=lambda x: x["offset"])
        _, items, err = kernel.reading_order(spans, kernel._parse)
        assert err is None and len(items) > 1
        for k in range(len(items) + 1):
            records = kernel.layout_records(items[:k]) + kernel.layout_records(items[k:])
            assert kernel.finalize_records(doc["doc_id"], records) == want, (s, k)


def test_stage3_assembles_shuffled_shards_in_doc_order():
    """Stage 3 receives a doc's stage-2 rows in no guaranteed order:
    shuffled, they still assemble to the narrow kernel's spans.  The doc
    has 12 page shards, later shards bring fonts the first one lacks,
    and it carries media."""
    import pandas as pd

    from freki_spark import kernel
    from freki_spark.pipeline import _stage1_split, _stage2_layout, _stage3_assemble

    doc = fixtures.make_doc("ord-7", 42, "mega")
    st1 = pd.concat(list(_stage1_split(iter([pd.DataFrame([doc])]))))
    st2 = pd.concat([_stage2_layout(shard) for _, shard in st1.groupby(["doc_id", "salt"])])
    fonts = [
        [k for r in recs for k in r["fonts_keys"]] for recs in st2.sort_values("salt")["records"]
    ]
    assert len(fonts) >= 3 and any(set(f) - set(fonts[0]) for f in fonts[1:])
    assert any(r["kind"] == "media" for recs in st2["records"] for r in recs)

    out = _stage3_assemble(st2.sample(frac=1, random_state=7))
    want, err = kernel.extract_document_rows(doc["doc_id"], doc["spans"])
    assert err is None and out["error"].tolist() == [None]
    assert out["spans"].tolist() == [want]


def _salted_in_python(doc):
    """S7's three stages run in Python, without Spark: (spans, error)."""
    import pandas as pd

    from freki_spark.pipeline import _stage1_split, _stage2_layout, _stage3_assemble

    st1 = pd.concat(list(_stage1_split(iter([pd.DataFrame([doc])]))))
    st2 = pd.concat([_stage2_layout(shard) for _, shard in st1.groupby(["doc_id", "salt"])])
    out = _stage3_assemble(st2)
    return out["spans"].iloc[0], out["error"].iloc[0]


def _rows(spans_err):
    spans, err = spans_err
    return [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in spans], err


# a page element's name, number attribute and size attributes
_PAGE_TAG = {
    spec.KIND_TETML: ("Page", "number", 'width="612" height="792"'),
    spec.KIND_PDFMINER: ("page", "id", 'bbox="0,0,612,792"'),
}
_ROOT = {spec.KIND_TETML: ("<TET>", "</TET>"), spec.KIND_PDFMINER: ("<pages>", "</pages>")}


def _page(dialect, i, extra, body):
    """Page ``i`` with its size and ``extra`` attributes; self-closing
    when ``body`` is None."""
    tag, num, size = _PAGE_TAG[dialect]
    head = f'<{tag} {num}="{i}" {size}{extra}'
    return head + "/>" if body is None else f"{head}>{body}</{tag}>"


def _words(dialect, text, nl=""):
    """One word per word of ``text``, on one line; ``nl`` goes between
    the elements."""
    out = []
    for k, w in enumerate(text.split()):
        x = 72 + 40 * k
        if dialect == spec.KIND_TETML:
            box = f'<Box llx="{x}" lly="700" urx="{x + 30}" ury="712"/>'
            out.append(f'<Word><Text>{w}</Text>{nl}{box}<Glyph font="F0" size="12.0">{w[0]}</Glyph></Word>')
        else:
            glyphs = "".join(
                f'<text font="F0" bbox="{x + 5 * i},700,{x + 5 * i + 5},712" size="12.0">{c}</text>'
                for i, c in enumerate(w)
            )
            out.append(f'<textline bbox="{x},700,{x + 30},712">{glyphs}{nl}<text>{nl or " "}</text></textline>')
    return nl.join(out)


def _doc_with_media_between(doc_id, dialect, pages, between="\n"):
    """One chunk per page, the root tags riding on the first and the
    last; ``between`` opens every chunk but the first, and a media span
    sits between each two chunks, so that it follows the page before."""
    head, tail = _ROOT[dialect]
    chunks = [head + pages[0], *(between + p for p in pages[1:])]
    chunks[-1] += tail
    spans = []
    for k, c in enumerate(chunks):
        spans.append({"kind": dialect, "text": c, "media_ref": "", "offset": len(spans)})
        if k < len(chunks) - 1:
            media_ref = f"img://{doc_id}/{k}"
            spans.append({"kind": "media", "text": "", "media_ref": media_ref, "offset": len(spans)})
    return {"doc_id": doc_id, "spans": spans}


def _pages_and_media(rows):
    """The output order of the doc's blocks (``p<page>``) and media
    (``m``)."""
    out = []
    for kind, text, _, _ in rows:
        if kind == "media":
            out.append("m")
        elif text.startswith("doc_id="):
            out.append("p" + re.search(r" page=(\d+) ", text).group(1))
    return out


@pytest.mark.parametrize("selfclosing", [True, False], ids=["self-closing", "open"])
@pytest.mark.parametrize("dialect", [spec.KIND_TETML, spec.KIND_PDFMINER])
def test_page_attribute_holding_gt_on_every_path(dialect, selfclosing):
    """A page whose quoted attribute value holds '/>' extracts alike on
    S7, the narrow path and the oracle.  S7 once ended a self-closing
    page's piece at that '>' and quarantined the doc."""
    from freki_spark import kernel, oracle

    pages = [
        _page(dialect, 1, " q='>'", _words(dialect, "first page")),
        _page(dialect, 2, ' note="a/>b"', None if selfclosing else _words(dialect, "mid page")),
        _page(dialect, 3, "", _words(dialect, "last page")),
    ]
    doc = _doc_with_media_between("gt", dialect, pages)
    want = _rows(oracle.extract_document(doc["doc_id"], doc["spans"]))
    assert want[1] is None and _pages_and_media(want[0]) == (
        ["p1", "m", "m", "p3"] if selfclosing else ["p1", "m", "p2", "m", "p3"]
    )
    assert _rows(kernel.extract_document_rows(doc["doc_id"], doc["spans"])) == want
    assert _rows(_salted_in_python(doc)) == want


@pytest.mark.parametrize("dialect", [spec.KIND_TETML, spec.KIND_PDFMINER])
def test_cr_and_crlf_line_endings_on_every_path(dialect):
    """CRLF and bare CR in page attribute values, in text and between
    pages, with media between pages: the fast parser reads the doc as
    the ET walk does, and narrow == oracle == S7.  The page cut is made
    in the raw text, where the media anchor reads its starts."""
    from freki_spark import fastparse, kernel, oracle

    tag, num, size = _PAGE_TAG[dialect]
    pages = [
        f'<{tag} {num}="{i}" {size} note="a{nl}b">{nl}{_words(dialect, words, nl)}{nl}</{tag}{nl}>'
        for i, (nl, words) in enumerate([("\r\n", "one two"), ("\r", "three four"), ("\r\n", "five six")], 1)
    ]
    doc = _doc_with_media_between("cr", dialect, pages, between="\r\n\r")
    xml = "".join(s["text"] for s in doc["spans"] if s["kind"] == dialect)
    cuts = fastparse.page_cuts(dialect, xml)
    if dialect == spec.KIND_TETML:
        fast, et = fastparse.parse_tetml_fast(xml, cuts, kernel.PageTokens), kernel._parse_tetml_et(xml)
    else:
        fast, et = fastparse.parse_pdfminer_fast(xml, cuts, kernel.PageTokens), kernel._parse_pdfminer_et(xml)

    def tokens(pages):
        return [(p.number, p.width, p.height, p.texts, p.fkeys, p.box.tolist()) for p in pages]

    assert fast is not None and tokens(fast) == tokens(et) and len(et) == 3
    want = _rows(oracle.extract_document(doc["doc_id"], doc["spans"]))
    assert want[1] is None and _pages_and_media(want[0]) == ["p1", "m", "p2", "m", "p3"]
    assert _rows(kernel.extract_document_rows(doc["doc_id"], doc["spans"])) == want
    assert _rows(_salted_in_python(doc)) == want


def test_selfclosing_final_page_salted_parity(spark):
    """A mega-doc ending with a self-closed page must extract the same
    spans salted and unsalted (repair_page_piece used to drag '</TET>'
    into the wrapped parse and quarantine the doc)."""
    spans = [
        {
            "kind": "tetml",
            "text": (
                "<TET><Page number='1'><Word><Text>w1</Text>"
                "<Box llx='1' lly='1' urx='9' ury='9'/></Word></Page>"
            ),
            "media_ref": "",
            "offset": 0,
        },
        {"kind": "tetml", "text": "<Page number='2'/></TET>", "media_ref": "", "offset": 1},
    ]
    df = docs_to_df(spark, [{"doc_id": "sc-final", "spans": spans}])
    salted = {r.doc_id: r for r in extract(df, salt_threshold=1).collect()}
    unsalted = {r.doc_id: r for r in extract(df, salt_threshold=100).collect()}
    assert salted["sc-final"].error is None, salted["sc-final"].error
    assert list(salted["sc-final"].spans) == list(unsalted["sc-final"].spans)
    assert len(salted["sc-final"].spans) > 0


def test_namespaced_pages_salted_parity(spark):
    """Namespace-prefixed page elements must split (and anchor media)
    identically to how the parsers read them — the old '<Page\\b' regex
    found zero pieces and the doc vanished from the salted path."""
    spans = [
        {
            "kind": "tetml",
            "text": (
                "<t:TET xmlns:t='urn:x'><t:Page number='1'><t:Word>"
                "<t:Text>ns1</t:Text><t:Box llx='1' lly='1' urx='9' ury='9'/>"
                "</t:Word></t:Page>"
            ),
            "media_ref": "",
            "offset": 0,
        },
        {
            "kind": "tetml",
            "text": (
                "<t:Page number='2'><t:Word><t:Text>ns2</t:Text>"
                "<t:Box llx='1' lly='1' urx='9' ury='9'/></t:Word></t:Page></t:TET>"
            ),
            "media_ref": "",
            "offset": 1,
        },
    ]
    df = docs_to_df(spark, [{"doc_id": "ns-mega", "spans": spans}])
    salted = {r.doc_id: r for r in extract(df, salt_threshold=1).collect()}
    unsalted = {r.doc_id: r for r in extract(df, salt_threshold=100).collect()}
    assert "ns-mega" in salted, "namespaced doc vanished on the salted path"
    assert salted["ns-mega"].error is None, salted["ns-mega"].error
    assert list(salted["ns-mega"].spans) == list(unsalted["ns-mega"].spans)
    texts = " ".join(s.text for s in salted["ns-mega"].spans)
    assert "ns1" in texts and "ns2" in texts


@pytest.mark.parametrize(
    ("seed", "dialect", "attr"), [(0, spec.KIND_TETML, "number"), (1, spec.KIND_PDFMINER, "id")]
)
def test_unnumbered_pages_are_numbered_by_position_on_every_path(spark, seed, dialect, attr):
    """A page element without its number (TETML ``number``, PDFMiner
    ``id``) is numbered by its position in the doc, as the oracle does,
    on every path: S7 stage 2 parses one page piece at a time, so stage
    1 hands it each page's position."""
    from freki_spark import oracle

    doc = fixtures.make_doc(f"p-mega-{seed}", seed, "mega")
    chunks = [s for s in doc["spans"] if s["kind"] in spec.XML_KINDS]
    assert {s["kind"] for s in chunks} == {dialect}
    xml = "".join(s["text"] for s in sorted(chunks, key=lambda s: s["offset"]))
    xml = re.sub(rf'(<[Pp]age\b[^>]*?)\s{attr}="[^"]*"', r"\1", xml)
    assert not re.search(rf'<[Pp]age\b[^>]*\s{attr}=', xml)
    step = len(xml) // 16 + 1
    spans = [
        {"kind": dialect, "text": xml[j : j + step], "media_ref": "", "offset": k}
        for k, j in enumerate(range(0, len(xml), step))
    ]
    want, err = oracle.extract_document(doc["doc_id"], spans)
    assert err is None and any("page=2 block_id=2-1" in s["text"] for s in want)
    want = [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in want]

    df = docs_to_df(spark, [{"doc_id": doc["doc_id"], "spans": spans}])
    for out in (extract(df, 1), extract(df, 10_000), extract_salted(df)):
        [row] = out.collect()
        assert row.error is None, row.error
        assert [[s.kind, s.text, s.media_ref, s.offset] for s in row.spans] == want


def test_reader_survives_hostile_doc_ids(spark):
    """A doc_id containing 'page=NN block_id=...' lookalikes must not
    corrupt the parsed block-header fields (the tail regex is
    $-anchored, so only the true rendered fields can match)."""
    from freki_spark.reader import read_freki_spans

    hostile = "report_page=12.pdf block_id=9-9 bbox=7,7,8,8 5 6"
    header = f"doc_id={hostile} page=3 block_id=3-1 bbox=1.0,2.0,9.0,8.0 4 5"
    df = spark.createDataFrame(
        [(hostile, "block", header, "", 0)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    r = read_freki_spans(df).collect()[0]
    assert (r.page, r.block_k) == (3, 1)
    assert (r.llx, r.lly, r.urx, r.ury) == (1.0, 2.0, 9.0, 8.0)
    assert (r.start_line, r.end_line) == (4, 5)


def test_block_label_render_and_roundtrip(spark):
    """Optional block label (upstream: the igtdetect classifier stage):
    rendered as 'label=<l>' between bbox and the line range only when
    non-empty, and parsed back by the reader (NULL when absent)."""
    from freki_spark.grammar import render_block_header
    from freki_spark.reader import read_freki_spans

    labeled = render_block_header("d", 1, 2, 72.0, 10.0, 540.0, 20.5, 3, 5, label="L")
    plain = render_block_header("d", 1, 2, 72.0, 10.0, 540.0, 20.5, 3, 5)
    assert " label=L 3 5" in labeled
    assert "label=" not in plain
    df = spark.createDataFrame(
        [("d", "block", labeled, "", 0), ("d", "block", plain, "", 1)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    rows = {r.offset: r for r in read_freki_spans(df).collect()}
    assert rows[0].label == "L"
    assert (rows[0].start_line, rows[0].end_line) == (3, 5)
    assert rows[1].label is None
    assert (rows[1].start_line, rows[1].end_line) == (3, 5)


def test_block_label_with_whitespace_is_rejected():
    """A label containing whitespace cannot be represented in the
    'label=\\S+' grammar — the reader would NULL every field of the
    header.  The renderer must refuse, not silently corrupt."""
    import pytest

    from freki_spark.grammar import render_block_header

    # "U\n" pins the fullmatch requirement: re.match(r"^\S+$") accepts a
    # trailing newline, which would split the rendered header line
    for bad in ("two words", "tab\tsep", "nl\nx", " lead", "trail ", "U\n"):
        with pytest.raises(ValueError, match="not representable"):
            render_block_header(
                "d", 1, 2, 72.0, 10.0, 540.0, 20.5, 3, 5, label=bad
            )
