"""The Spark extraction pipeline (P1–P13 of SURVEY.md §2.2).

Dataflow (north-star lifecycle, SURVEY.md §3.2):

    scan (doc_id, spans)                      -- columnar, pruned
    route: salted = size(spans) > τ, no risky markup, no html span
      ├─ not salted : mapInArrow(extract)               -- NO shuffle
      └─ salted     : salted mega-doc path (S7), planned only when
                      the routing check finds a salted doc
           stage 1  mapInPandas: regex page-split + media anchoring
           stage 2  groupBy(doc_id, salt).applyInPandas: per-page
                    layout with group-local numbering   -- 1 shuffle
           stage 3  groupBy(doc_id).applyInPandas: renumber the
                    shards from their __meta__ rows and render them
                    with kernel.finalize_records        -- 1 shuffle
    union → (doc_id, spans, error)

Design notes for 100 TB / 10^12-doc scale:

- The input table stores one row per document, so the common path is a
  *narrow* transformation: ``mapInArrow`` runs the numpy kernel
  directly on Arrow batches with zero shuffles and zero driver
  involvement.  Exploded span-per-row inputs are regrouped to one row
  per doc at read time (``sources.jsonl_docs.read_span_jsonl``).
- Catalyst cannot split a skewed group inside applyInPandas (AQE skew
  handling does not apply there), so mega-documents are salted
  *explicitly*: pages are sharded into at most SALT_MAX_GROUPS groups
  per doc and laid out in parallel; one cheap per-doc pass then shifts
  each shard's line numbers by the lines of the shards before it and
  renders the spans through the narrow path's own serializer.
- Corrupt XML never fails a task: quarantined docs come back with
  spans=[] and a non-null error column (split with
  ``split_quarantine``).

Reference parity: this file replaces freki/main.py's single-process
eager loop [U]; layout semantics live in freki_spark.kernel.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from itertools import accumulate

import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from . import kernel, spec

# --------------------------------------------------------------------------
# schemas
# --------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [*DOC_SCHEMA.fields, T.StructField("error", T.StringType())]
)

_STAGE1_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("page_pos", T.IntegerType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("item_type", T.StringType()),  # page | media | error | empty
        T.StructField("payload", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("dialect", T.StringType()),
    ]
)

_STAGE2_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("seq_l", T.LongType()),
        T.StructField("kind", T.StringType()),  # block|line|media|__meta__
        T.StructField("page", T.IntegerType()),
        T.StructField("block_k", T.IntegerType()),
        T.StructField("line_start_l", T.LongType()),
        T.StructField("line_end_l", T.LongType()),
        T.StructField("line_no_l", T.LongType()),
        T.StructField("fonts_keys", T.ArrayType(T.StringType())),
        T.StructField("body", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("n_lines", T.LongType()),
    ]
)


# --------------------------------------------------------------------------
# unsalted fast path
# --------------------------------------------------------------------------


_SPANS_ARROW = to_arrow_type(DOC_SCHEMA["spans"].dataType)


def _extract_docs_arrow(batches):
    """mapInArrow fast path: the kernel's span dicts of a whole batch
    cross into Arrow in one ``pa.array`` conversion per column."""
    for rb in batches:
        doc_ids = rb.column("doc_id").to_pylist()
        spans_out: list[list[dict]] = []
        errors: list[str | None] = []
        for doc_id, spans in zip(doc_ids, rb.column("spans").to_pylist()):
            rows, err = kernel.extract_document_rows(doc_id, spans or [])
            spans_out.append(rows)
            errors.append(err)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.string()),
                pa.array(spans_out, _SPANS_ARROW),
                pa.array(errors, pa.string()),
            ],
            names=["doc_id", "spans", "error"],
        )


def extract_simple(df: DataFrame) -> DataFrame:
    """Unsalted whole-document extraction: one ``mapInArrow`` over the
    input, narrow and shuffle-free (the input has one row per doc_id)."""
    return df.mapInArrow(_extract_docs_arrow, EXTRACTED_SCHEMA)


# --------------------------------------------------------------------------
# salted mega-doc path (S7)
# --------------------------------------------------------------------------


def _split_doc(doc_id: str, spans) -> list[tuple]:
    """Stage-1 rows of one mega-doc: well-formedness check (same expat
    parser the kernel's acceptance uses — the salted path must
    quarantine exactly the docs the unsalted path quarantines), then
    regex page split + media→page anchoring (no tree parse of the whole
    doc)."""
    import xml.etree.ElementTree as ET

    from . import fastparse

    spans = sorted(list(spans), key=lambda s: s["offset"])
    chunks = [s for s in spans if s["kind"] in spec.XML_KINDS]
    media = [s for s in spans if s["kind"] == spec.KIND_MEDIA]
    if not chunks:
        return [
            (doc_id, 0, -1, j, "media", m["text"], m["media_ref"], "") for j, m in enumerate(media)
        ]
    dialect = chunks[0]["kind"]
    xml = "".join(c["text"] for c in chunks)
    try:
        fastparse.validate(xml)
    except ET.ParseError as e:
        return [(doc_id, 0, 0, 0, "error", f"xml-parse-error: {e}", "", dialect)]
    pieces, starts = kernel.split_pages(xml, dialect)
    if not pieces:
        # valid XML with zero page elements: the kernel emits just the
        # media spans (all anchored to the prologue) — mirror that,
        # never quarantine
        return [
            (doc_id, 0, -1, j, "media", m["text"], m["media_ref"], dialect)
            for j, m in enumerate(media)
        ]
    n_groups = min(spec.SALT_MAX_GROUPS, len(pieces))
    per_group = math.ceil(len(pieces) / n_groups)
    mpos = kernel.media_page_positions(
        [c["offset"] for c in chunks],
        [len(c["text"]) for c in chunks],
        starts,
        [m["offset"] for m in media],
    )
    decls = kernel.collect_xmlns(xml[: starts[0]])
    rows = []
    for p, piece in enumerate(pieces):
        piece = kernel.repair_page_piece(piece, dialect, decls)
        rows.append((doc_id, p // per_group, p, 0, "page", piece, "", dialect))
    ranks: dict[int, int] = {}
    for m, p in zip(media, mpos):
        salt = 0 if p < 0 else min(p, len(pieces) - 1) // per_group
        r = ranks.get(p, 0) + 1
        ranks[p] = r
        rows.append((doc_id, salt, p, r, "media", m["text"], m["media_ref"], dialect))
    return rows


def _stage1_split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per mega-doc: ``_split_doc``.  A doc that yields no item (no page
    and no media) still emits one ``empty`` marker row, which stage 2
    turns into a bare ``__meta__`` row, so the doc reaches stage 3 and
    comes out as (doc_id, [], null) like on the unsalted path."""
    for pdf in it:
        rows: list[tuple] = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            rows += _split_doc(doc_id, spans) or [(doc_id, 0, -1, 0, "empty", "", "", "")]
        yield pd.DataFrame(rows, columns=[f.name for f in _STAGE1_SCHEMA.fields])


def _stage2_layout(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per (doc_id, salt) group: lay out the page shard with group-local
    numbering.  Emits the block/line/media records, numbered by
    ``seq_l`` in shard order, plus exactly one ``__meta__`` row carrying
    (fonts in first-appearance order, n_lines, error-or-'') — everything
    stage 3 needs to renumber."""
    pdf = pdf.sort_values(["page_pos", "rank"], kind="stable")
    doc_id = pdf["doc_id"].iloc[0]
    salt = int(pdf["salt"].iloc[0])
    cols = [f.name for f in _STAGE2_SCHEMA.fields]

    def meta_only(err: str) -> pd.DataFrame:
        return pd.DataFrame(
            [[doc_id, salt, 0, "__meta__", 0, 0, 0, 0, 0, [], err, "", 0]],
            columns=cols,
        )

    err_rows = pdf[pdf["item_type"] == "error"]
    if len(err_rows):
        return meta_only(err_rows["payload"].iloc[0])

    dialects = [d for d in pdf["dialect"] if d]
    dialect = dialects[0] if dialects else spec.KIND_TETML
    items = [
        {"item_type": it, "payload": pl, "media_ref": mr}
        for it, pl, mr in zip(pdf["item_type"], pdf["payload"], pdf["media_ref"])
        if it != "empty"
    ]
    records, doc_fonts, n_lines, err = kernel.extract_group_records(doc_id, items, dialect)
    if err is not None:
        return meta_only(err)
    rows = [
        [
            doc_id,
            salt,
            seq,
            r["kind"],
            r["page"],
            r["block_k"],
            r["line_start"],
            r["line_end"],
            r["line_no"],
            r["fonts_keys"],
            r["body"],
            r["media_ref"],
            0,
        ]
        for seq, r in enumerate(records)
    ]
    rows.append([doc_id, salt, 0, "__meta__", 0, 0, 0, 0, 0, list(doc_fonts), "", "", n_lines])
    return pd.DataFrame(rows, columns=cols)


def _stage3_assemble(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per doc: renumber the stage-2 shards and render them.

    A shard's lines are numbered from 1 and its records' ``seq_l`` runs
    0, 1, ... in shard order, so in salt order each shard's lines shift
    by the lines of the shards before it and the offsets are the
    records' positions.  The doc's font ids follow the shards' first-appearance
    lists concatenated in salt order, first occurrences kept: shards are
    disjoint, ordered slices of the doc.  Rendering is the narrow path's
    ``kernel.finalize_records``.  Rows arrive in no particular order."""
    doc_id = pdf["doc_id"].iloc[0]
    is_meta = pdf["kind"] == "__meta__"
    meta = pdf[is_meta].sort_values("salt")
    errors = [e for e in meta["body"] if e]
    if errors:
        return pd.DataFrame([[doc_id, [], errors[0]]], columns=EXTRACTED_SCHEMA.names)
    line_base = dict(zip(meta["salt"].tolist(), accumulate(meta["n_lines"].tolist(), initial=0)))
    doc_fonts = dict.fromkeys(k for keys in meta["fonts_keys"] for k in keys)
    recs = pdf[~is_meta].sort_values(["salt", "seq_l"])
    base = recs["salt"].map(line_base)
    # only the fields finalize_records reads: every record's dict is
    # held at once, so each extra key costs memory on a mega-doc
    records = recs[["kind", "page", "block_k", "fonts_keys", "body", "media_ref"]].assign(
        line_start=recs["line_start_l"] + base,
        line_end=recs["line_end_l"] + base,
        line_no=recs["line_no_l"] + base,
    ).to_dict("records")
    spans = kernel.finalize_records(doc_id, records, doc_fonts)
    return pd.DataFrame([[doc_id, spans, None]], columns=EXTRACTED_SCHEMA.names)


def extract_salted(df: DataFrame) -> DataFrame:
    """Mega-document path: page-parallel layout, then a per-doc renumber.

    Plan shape (2 shuffles, over page pieces and then over layout
    records — never raw XML bytes twice):

      1. ``mapInPandas`` — page split + media anchoring per doc;
      2. ``groupBy(doc_id, salt).applyInPandas`` — the page-shard layout,
         the work that fans out over executors;
      3. ``groupBy(doc_id).applyInPandas`` — one task per doc renumbers
         its shards and renders the spans; a doc whose shards hold no
         record, or carry an error, comes out of the same group.
    """
    return (
        df.mapInPandas(_stage1_split, _STAGE1_SCHEMA)
        .groupBy("doc_id", "salt")
        .applyInPandas(_stage2_layout, _STAGE2_SCHEMA)
        .groupBy("doc_id")
        .applyInPandas(_stage3_assemble, EXTRACTED_SCHEMA)
    )


# --------------------------------------------------------------------------
# top-level entry
# --------------------------------------------------------------------------


def extract(df: DataFrame, salt_threshold: int = spec.SALT_SPAN_THRESHOLD) -> DataFrame:
    """Full pipeline: route each doc by input-span count (P13), extract,
    union.  Returns (doc_id, spans, error).

    Routing details:
    - NULL ``spans`` counts as empty (the doc must surface in the
      output as (doc_id, [], null), never silently vanish);
    - docs whose XML may contain comments / CDATA / processing
      instructions (any ``<!``, or ``<?`` beyond the position-0 XML
      declaration) take the UNSALTED path regardless of size: the
      salted path's regex page split cannot see markup context, so a
      ``<Page`` inside a comment would create phantom piece boundaries
      there — whole-document parsing defines the semantics, so risky
      docs go where the whole document is parsed.  All checks are
      JVM-side string scans (codegen, narrow);
    - docs carrying any ``kind='html'`` span (the HtmlSpec
      main-content dialect) always take the unsalted path: boilerplate
      classification is a whole-document DOM property and HTML has no
      page structure to shard, while the narrow ``mapInArrow`` path is
      already shuffle-free — one web page per task item is the right
      unit of parallelism at 10^12 docs (html_kernel docstring).

    Calling ``extract`` runs the routing check: ``isEmpty`` on the
    salted side, a ``limit(1)`` query that stops at the first salted
    doc and reads every row only when there is none.  S7 is planned
    only when the check finds one: its Python stages and shuffles would
    otherwise run, over empty input, in every job.  Otherwise every doc
    is routed unsalted, and ``extract_simple`` takes the whole input.  The
    input must be a static snapshot: a cached batch, a streaming
    micro-batch or files.
    """
    n = F.coalesce(F.size("spans"), F.lit(0))
    has_html = F.coalesce(
        F.exists("spans", lambda s: s["kind"] == F.lit(spec.KIND_HTML)),
        F.lit(False),
    )
    salted = (n > salt_threshold) & ~_risky_markup("spans") & ~has_html
    mega = df.filter(salted)
    if mega.isEmpty():
        return extract_simple(df)
    return extract_simple(df.filter(~salted)).unionByName(extract_salted(mega))


def _risky_markup(spans: str) -> Column:
    """True when a doc's XML chunks may hold a comment, CDATA, DTD or PI.

    Every lambda reads only its own element, so the check is O(spans)
    per doc: a lambda that reads a per-doc aggregate (such as the head
    chunk's offset) re-evaluates it for every element."""
    xml_chunks = F.filter(spans, lambda s: s["kind"].isin(*spec.XML_KINDS))

    def _decl(s: Column) -> Column:
        # the only exempt '<?' is a true XML declaration: '<?xml' +
        # whitespace at byte 0 of the first XML chunk ('xml' is a
        # forbidden PI target, so this prefix is unambiguous); a
        # document-leading PI like '<?pi <Page ?>' must still flag
        return F.substring(s["text"], 1, 6).isin("<?xml ", "<?xml\t", "<?xml\r", "<?xml\n")

    def _markup(s: Column) -> Column:
        pi = F.when(_decl(s), F.locate("<?", s["text"], 2) > 0).otherwise(
            F.locate("<?", s["text"], 1) > 0
        )
        # a chunk ending in '<' may complete to '<!'/'<?' in the NEXT
        # chunk (chunk boundaries are arbitrary byte splits) — the
        # per-chunk contains() can't see across, so flag it risky too
        return s["text"].contains("<!") | pi | s["text"].endswith("<")

    # a declaration is exempt only in a head chunk (the lowest offset):
    # one at a null or higher offset flags
    decl_offsets = F.transform(F.filter(xml_chunks, _decl), lambda s: s["offset"])
    head = F.array_min(F.transform(xml_chunks, lambda s: s["offset"]))
    late_decl = F.exists(decl_offsets, lambda o: o.isNull()) | (
        F.array_max(decl_offsets) > head
    )
    return F.coalesce(F.exists(xml_chunks, _markup) | late_decl, F.lit(False))


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good docs (doc_id, spans), quarantine (doc_id, error))."""
    good = extracted.filter(F.col("error").isNull()).select("doc_id", "spans")
    bad = extracted.filter(F.col("error").isNotNull()).select("doc_id", "error")
    return good, bad
